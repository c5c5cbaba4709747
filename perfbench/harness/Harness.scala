package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed operation as the harness saw it. */
final case class Op(kind: String, name: String, round: Int, startUs: Long, ms: Double,
    failed: Boolean = false)

/** What a workload gets from the harness: the session, its directories,
  * and the op timer (which opens a span when tracing). */
final class Ctx(val spark: SparkSession, val runDir: String, val dataDir: String,
    val tracer: Option[Tracer], slots: Int) {
  val ops = mutable.ArrayBuffer.empty[Op]
  /** Figures a workload reports beside its ops (lake file counts, ...). */
  val extra = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  var round = 0
  var timing = false

  /** Host-speed probes ([[Probe]]) of the timed phase: wall ms and
    * compute CPU ms. */
  val probeMs = mutable.ArrayBuffer.empty[(Double, Double)]
  /** Wall and CPU time spent in probes so far. */
  var probeUs = 0L
  var probeCpuMs = 0.0
  private var lastProbeUs = 0L

  def speedProbe(): (Double, Double) = {
    val t0 = Clock.nowUs
    val (wall, computeCpu, processCpu) = probe(Probe(spark.sparkContext, slots))
    probeCpuMs += processCpu
    lastProbeUs = Clock.nowUs
    probeUs += lastProbeUs - t0
    (wall, computeCpu)
  }

  /** A probe before an op of the timed phase, once a second at most: the
    * probes follow the host through the run at a bounded cost. Set-up has
    * none: the JIT is still compiling the workload then, and a probe reads
    * slow by up to 2.5 times. */
  def probeDue(): Unit =
    if (timing && Clock.nowUs - lastProbeUs >= 1000000L) probeMs += speedProbe()

  /** Time `body` as one op; a failed op is recorded and rethrown (see
    * [[attempt]]). */
  def op[T](kind: String, name: String)(body: => T): T = {
    probeDue()
    val t0 = Clock.nowUs
    def done(failed: Boolean): Unit =
      if (timing) ops += Op(kind, name, round, t0, (Clock.nowUs - t0) / 1000.0, failed)
    val out =
      try tracer match {
        case Some(t) => t.span("op")(body)
        case None => body
      } catch { case e: Exception => done(failed = true); throw e }
    done(failed = false)
    out
  }

  /** Run `body`, reporting an exception instead of throwing it, so that a
    * failed op is counted and the run goes on; true when it succeeded. */
  def attempt(what: String)(body: => Unit): Boolean =
    try { body; true }
    catch { case e: Exception => System.err.println(s"[perfbench] $what failed: $e"); false }

  /** A child span of the current op (no-op when not tracing). */
  def phase[T](name: String)(body: => T): T = tracer match {
    case Some(t) => t.span(name, name)(body)
    case None => body
  }

  /** Work done only for the traced figures: its jobs are not counted. */
  def probe[T](body: => T): T = tracer match {
    case Some(t) => t.span("probe", "probe")(body)
    case None => body
  }

  def path(p: String): String = s"$runDir/$p"
}

trait Workload {
  /** Build this run's inputs through graft and run one untimed pass that
    * also writes the outputs the checks read. */
  def setup(): Unit
  /** Run round `ctx.round`; false when the plan has no more rounds. */
  def round(): Boolean
  /** Untimed work after the timed phase (final outputs for the checks). */
  def finish(): Unit = ()
}

/** The benchmark's single JVM: `perfbench.Harness key=value...`.
  *
  * Keys: workload, run (this run's directory), data (base tables), plan
  * (the seeded inputs), seconds, trace (0|1), cpus. Writes
  * `<run>/result.json` (and `<run>/spans.jsonl` when tracing); run.py turns
  * them into the benchmark's metrics. */
object Harness {
  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val runDir = opt("run")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cpus = opt("cpus")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      // olap_mix's queries generate 86 classes. At the default 100 entries,
      // Spark evicts and recompiles some of them every round in about half
      // of the runs, and not at all in the others, which splits the CPU
      // figures in two. The traced run's
      // codegen.compiles_per_op shows what the timed phase compiles.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.install())
    val ctx = new Ctx(spark, runDir, opt("data"), tracer, cpus.toInt)
    for (_ <- 1 to 4) ctx.speedProbe() // compiled by the JIT before use
    val w: Workload = opt("workload") match {
      case "olap_mix" => new QueryMix(ctx, opt("plan"))
      case "lake_stream" => new Rounds(new LakeRw(ctx, opt("plan")), new MetricStream(ctx, opt("plan")))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.setup()
    tracer.foreach(_.reset())

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    // the JIT compiler's share of the timed phase is reported apart, as
    // a per-layer figure; the CPU figure is the whole process's
    val jit = ManagementFactory.getCompilationMXBean
    val firstOpUs = Clock.nowUs
    val cpu0 = os.getProcessCpuTime
    val jit0 = jit.getTotalCompilationTime
    ctx.timing = true
    // each round's wall and CPU time, for the per-round medians
    val roundWallMs, roundCpuMs = mutable.ArrayBuffer.empty[Double]
    var more = true
    val (setupProbeUs, setupProbeCpuMs) = (ctx.probeUs, ctx.probeCpuMs)
    // two rounds at least: on a slow host one lake_stream round can take
    // longer than the whole run, and a run of round 0 alone (the least
    // warm) against runs of two would split the figures in two groups
    while (more && (ctx.round < 2 || (Clock.nowUs - firstOpUs) / 1e6 < seconds)) {
      val (r0, c0) = (Clock.nowUs, os.getProcessCpuTime)
      val (p0, pc0) = (ctx.probeUs, ctx.probeCpuMs)
      more = w.round()
      if (more) {
        // the round's own time: the probes taken inside it are left out
        roundWallMs += (Clock.nowUs - r0 - (ctx.probeUs - p0)) / 1000.0
        roundCpuMs += (os.getProcessCpuTime - c0) / 1e6 - (ctx.probeCpuMs - pc0)
        ctx.round += 1
      }
    }
    val jitMs = (jit.getTotalCompilationTime - jit0).toDouble
    val cpuMs = (os.getProcessCpuTime - cpu0) / 1e6 - (ctx.probeCpuMs - setupProbeCpuMs)
    ctx.probeMs += ctx.speedProbe()
    ctx.timing = false
    tracer.foreach(_.drain())
    w.finish()

    val out = new StringBuilder("{")
    def kv(k: String, v: String): Unit = {
      if (out.length > 1) out ++= ","
      out ++= Json.str(k) ++= ":" ++= v
    }
    kv("first_op_us", firstOpUs.toString)
    kv("setup_probe_ms", Json.num(setupProbeUs / 1000.0))
    kv("probe_ms", ctx.probeMs.map(p => s"[${Json.num(p._1)},${Json.num(p._2)}]")
      .mkString("[", ",", "]"))
    kv("timed_cpu_ms", Json.num(cpuMs))
    kv("timed_jit_ms", Json.num(jitMs))
    kv("rounds", ctx.round.toString)
    kv("round_wall_ms", roundWallMs.map(Json.num).mkString("[", ",", "]"))
    kv("round_cpu_ms", roundCpuMs.map(Json.num).mkString("[", ",", "]"))
    kv("peak_rss_mb", Json.num(peakRssMb))
    kv("ops", ctx.ops.map(o => s"""[${Json.str(o.kind)},${Json.str(o.name)},${o.round},${o.startUs},${Json.num(o.ms)},${o.failed}]""")
      .mkString("[", ",", "]"))
    kv("extra", Json.obj(ctx.extra.toSeq))
    tracer.foreach { t =>
      kv("counts", Json.obj(t.counts.toSeq))
      kv("samples", t.samples.map { case (k, v) => Json.str(k) + ":" + v.map(Json.num).mkString("[", ",", "]") }
        .mkString("{", ",", "}"))
      kv("gc_ms", t.gcMs.toString)
      kv("codegen_compiles", t.codegenCompiles.toString)
      kv("heap_peak_mb", Json.num(t.heapPeakMb))
      val pw = new PrintWriter(new File(s"$runDir/spans.jsonl"))
      try t.spans.foreach(s => pw.println(
        s"""[${s.id},${s.parent},${Json.str(s.name)},${s.startUs},${s.endUs}]"""))
      finally pw.close()
    }
    out ++= "}"
    Files.writeString(Paths.get(s"$runDir/result.json"), out.toString)
    spark.stop()
  }

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def obj(kvs: Seq[(String, Double)]): String =
    kvs.map { case (k, v) => str(k) + ":" + num(v) }.mkString("{", ",", "}")
}
