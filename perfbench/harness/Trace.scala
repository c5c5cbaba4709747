package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is the span that caused it (0 = none). */
final case class Span(id: Long, parent: Long, name: String, startUs: Long, endUs: Long)

/** Clock shared by harness spans and listener events: epoch µs, taken from
  * nanoTime so that harness spans are monotonic. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** The traced run's recorder. It only listens: Spark's public listener
  * APIs (SparkListener, QueryExecutionListener, StreamingQueryListener)
  * and the JVM's management beans. Spans stay in memory until [[spans]]
  * is written out at the end of the run.
  *
  * Jobs are tied to the harness span that launched them through a local
  * property on the calling thread; micro-batch jobs through the batch id
  * the stream execution thread sets. Counters are summed between
  * [[reset]] and [[drain]], so only the timed phase is counted. */
final class Tracer(spark: SparkSession) {
  val SpanKey = "perfbench.span"
  val PhaseKey = "perfbench.phase"

  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private val stack = mutable.Stack.empty[Long]

  /** Counters of the timed phase, by name. */
  val counts = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  /** Per-batch samples (streaming phases, state commits). */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  @volatile private var counting = false
  @volatile private var lastEventUs = Clock.nowUs
  private val lock = new Object

  private def add(k: String, v: Double): Unit =
    if (counting) lock.synchronized { counts(k) += v }
  private def sample(k: String, v: Double): Unit =
    if (counting) lock.synchronized {
      samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v }
  private def maxOf(k: String, v: Double): Unit =
    if (counting) lock.synchronized { counts(k) = math.max(counts(k), v) }
  private def record(s: Span): Unit = lock.synchronized { spanBuf += s }
  private def newId(): Long = lock.synchronized { nextId += 1; nextId }

  /** Run `body` as a child span of the current one; jobs it starts are
    * tagged with the span id and with `phase` (probe jobs are not
    * counted). */
  def span[T](name: String, phase: String = null)(body: => T): T = {
    val id = newId()
    val parent = stack.headOption.getOrElse(0L)
    val sc = spark.sparkContext
    val oldSpan = sc.getLocalProperty(SpanKey)
    val oldPhase = sc.getLocalProperty(PhaseKey)
    sc.setLocalProperty(SpanKey, id.toString)
    if (phase != null) sc.setLocalProperty(PhaseKey, phase)
    stack.push(id)
    val start = Clock.nowUs
    try body
    finally {
      record(Span(id, parent, name, start, Clock.nowUs))
      stack.pop()
      sc.setLocalProperty(SpanKey, oldSpan)
      sc.setLocalProperty(PhaseKey, oldPhase)
    }
  }

  /** A span whose interval is known after the fact (micro-batch phases). */
  def addSpan(name: String, parent: Long, startUs: Long, endUs: Long): Long = {
    val id = newId(); record(Span(id, parent, name, startUs, endUs)); id
  }

  def spans: Seq[Span] = lock.synchronized {
    spanBuf.toSeq ++ batchJobs.map { case (k, s, e) =>
      Span(newId(), batchSpan.getOrElse(k, 0L), "job", s, e) }
  }

  // --- scheduler / shuffle / scan: SparkListener -------------------------
  private type BatchKey = (String, Long) // (query run id, batch id)
  private val jobSpan = mutable.Map.empty[Int, (Long, Option[BatchKey], Long, String)]
  private val stagePhase = mutable.Map.empty[Int, String]
  private val batchSpan = mutable.Map.empty[BatchKey, Long]
  private val batchJobs = mutable.ArrayBuffer.empty[(BatchKey, Long, Long)]

  private def counted(phase: String) = phase != "probe"

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      lastEventUs = Clock.nowUs
      val p = e.properties
      def prop(k: String) = Option(p).flatMap(q => Option(q.getProperty(k)))
      val phase = prop(PhaseKey).getOrElse("")
      val parent = prop(SpanKey).map(_.toLong).getOrElse(0L)
      val batch = for (q <- prop("sql.streaming.runId").orElse(prop("spark.jobGroup.id")); b <- prop("streaming.sql.batchId"))
        yield (q, b.toLong)
      lock.synchronized {
        jobSpan(e.jobId) = (parent, batch, e.time * 1000L, phase)
        e.stageInfos.foreach(si => stagePhase(si.stageId) = phase)
      }
      if (counted(phase)) {
        add("jobs", 1)
        if (phase == "build") add("build_jobs", 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      lastEventUs = Clock.nowUs
      lock.synchronized(jobSpan.remove(e.jobId)).foreach { case (parent, batch, start, phase) =>
        if (counting && counted(phase)) batch match {
          case Some(k) if parent == 0L =>
            lock.synchronized { batchJobs += ((k, start, e.time * 1000L)) }
          case _ => record(Span(newId(), parent, "job", start, e.time * 1000L))
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      lastEventUs = Clock.nowUs
      if (counted(lock.synchronized(stagePhase.getOrElse(e.stageInfo.stageId, ""))))
        add("stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      lastEventUs = Clock.nowUs
      val phase = lock.synchronized(stagePhase.getOrElse(e.stageId, ""))
      val m = e.taskMetrics
      if (m != null && counted(phase)) {
        add("tasks", 1)
        add("task_ms", m.executorRunTime.toDouble)
        add("task_cpu_ms", m.executorCpuTime / 1e6)
        add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("spill_b", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        add("input_b", m.inputMetrics.bytesRead.toDouble)
        add("input_rows", m.inputMetrics.recordsRead.toDouble)
        add(s"output_b.$phase", m.outputMetrics.bytesWritten.toDouble)
      }
    }
  }

  // --- catalyst: QueryExecutionListener on the measured session ----------
  private def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case _: ReusedExchangeExec => 0
    case e @ (_: ShuffleExchangeLike | _: BroadcastExchangeLike) =>
      1 + e.children.map(exchanges).sum
    case other => (other.children ++ other.subqueries).map(exchanges).sum
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      lastEventUs = Clock.nowUs
      val ph = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { k =>
        ph.get(k).foreach(s => add(s"${k}_ms", s.durationMs.toDouble))
      }
      add("exchanges", scala.util.Try(exchanges(qe.executedPlan)).getOrElse(0).toDouble)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  // --- streaming: StreamingQueryListener ----------------------------------
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      lastEventUs = Clock.nowUs
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
      d.foreach { case (k, v) => sample(s"phase.$k", v) }
      val ops = p.stateOperators
      sample("state_commit_ms", ops.map(_.commitTimeMs.toDouble).sum)
      maxOf("state_rows", ops.map(_.numRowsTotal.toDouble).sum)
      maxOf("state_mem_b", ops.map(_.memoryUsedBytes.toDouble).sum)
    }
  }

  /** The stream workload names a micro-batch's span once the batch's
    * progress is known; the batch's jobs become its children. */
  def batchSpanIs(runId: String, batchId: Long, id: Long): Unit =
    lock.synchronized { batchSpan((runId, batchId)) = id }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private def gcTotalMs = gcBeans.map(_.getCollectionTime).sum
  private def heapPeakNowMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  /** Spark's count of generated classes it compiled (codegen cache misses). */
  private def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private var gc0, compiles0 = 0L
  /** GC time, heap peak and codegen compiles of the timed phase, taken by
    * [[drain]]. */
  var gcMs, codegenCompiles = 0L
  var heapPeakMb = 0.0

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until the listener buses have been quiet for a while: Spark
    * delivers listener events asynchronously, and the public API has no
    * flush. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (Clock.nowUs - lastEventUs < 300000 && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    if (counting) {
      gcMs = gcTotalMs - gc0
      heapPeakMb = heapPeakNowMb
      codegenCompiles = compiles - compiles0
    }
    counting = false
  }

  /** Start counting: earlier events (warm-up) are drained and dropped. */
  def reset(): Unit = {
    drain()
    lock.synchronized {
      counts.clear(); samples.clear(); spanBuf.clear(); batchJobs.clear() }
    gc0 = gcTotalMs
    compiles0 = compiles
    heapPools.foreach(_.resetPeakUsage())
    counting = true
  }
}
