package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.SparkContext
import org.apache.spark.util.LongAccumulator

/** A fixed Spark job that uses nothing of graft, run between ops to see
  * how fast the shared host runs Spark at the moment.
  *
  * The host's speed moves by up to three times within the hour while the
  * program stays the same, and a run's own ops move with it. A CPU loop on
  * one thread did not follow those moves; this job does, because it goes
  * through the same machinery as a short query: job and task scheduling on
  * the task slots, a map stage of fixed compute, a shuffle written to and
  * read from local files. run.py scales a run's times by the probe's
  * reference time over its median time in the run, and its CPU time per op
  * likewise by the CPU time of the fixed compute.
  *
  * It uses the RDD API, so no Catalyst rule or function graft injects into
  * the session runs in it. */
object Probe {
  private val Rows = 200000
  private val Keys = 4096
  private val Steps = 3000000
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean
  @volatile private var sink = 0L

  /** A partition's fixed compute: seeded random updates of a 512 KB table. */
  private def compute(p: Int, cpuNs: LongAccumulator): Long = {
    val c0 = threads.getCurrentThreadCpuTime
    val a = new Array[Long](1 << 16)
    var x = 0x9E3779B97F4A7C15L * (p + 1)
    var i = 0
    while (i < Steps) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      a((x >>> 48).toInt) += x
      i += 1
    }
    cpuNs.add(threads.getCurrentThreadCpuTime - c0)
    a((x >>> 48).toInt)
  }

  /** Run the job once on `slots` partitions. Returns its wall ms, the CPU
    * ms its fixed compute took on the task threads, and the process's CPU
    * ms meanwhile (which takes in whatever else the JVM ran, the JIT's
    * background compiles above all). */
  def apply(sc: SparkContext, slots: Int): (Double, Double, Double) = {
    val cpuNs = sc.longAccumulator("probe compute CPU ns")
    val (t0, c0) = (System.nanoTime(), os.getProcessCpuTime)
    val per = Rows / slots
    sink += sc.parallelize(0 until slots, slots)
      .flatMap { p =>
        val salt = compute(p, cpuNs)
        Iterator.tabulate(per)(i => (((i.toLong * 31 + p) % Keys).toInt, i.toLong ^ salt))
      }
      .reduceByKey(_ ^ _, slots).values.reduce(_ ^ _)
    ((System.nanoTime() - t0) / 1e6, cpuNs.sum / 1e6, (os.getProcessCpuTime - c0) / 1e6)
  }
}
