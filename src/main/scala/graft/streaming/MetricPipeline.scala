package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig,
  TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types._

import graft.core.LocalSession
import graft.functions.GraftFunctions.bc_div
import graft.state.Scaling
import graft.state.Scaling._

/** Structured-Streaming re-expression of the reference's metric pipeline
  * (SURVEY.md §3.2-3.3): poll source → JSON extract → bc-style percent →
  * 30 s micro-batches → sliding/tumbling window average → threshold rules →
  * stateful cooldown/clamp → action sink.
  *
  * Each stage is an independent, testable transformation on Datasets so the
  * golden tests (MemoryStream epochs) can drive any slice deterministically.
  * State lives in the RocksDB state store ([[ensureRocksDbStateStore]]),
  * never on the driver.
  */
object MetricPipeline {

  /** One metric observation — the engine's time-series record
    * (SURVEY.md §1.1): what `put-metric-data` carries in the reference
    * (/root/reference/scripts/custom-metrics.sh:14). */
  final case class MetricPoint(
      ts: java.sql.Timestamp, clusterId: String, metric: String, value: Double)

  /** Schema of the YARN RM /ws/v1/cluster/metrics payload — only the
    * fields the reference extracts (custom-metrics.sh:10-11) plus the
    * ones our fixtures carry (FIXTURES.md §4). */
  val rmSchema: StructType = StructType(Seq(
    StructField("clusterMetrics", StructType(Seq(
      StructField("availableVirtualCores", IntegerType),
      StructField("totalVirtualCores", IntegerType),
      StructField("appsRunning", IntegerType),
      StructField("activeNodes", IntegerType))))))

  /** R7/R8/R9: raw JSON payloads → YARNCoreAvailablePercentage points.
    * A zero-core payload yields a null percent and is filtered — the
    * declared "tick skipped" semantics (SURVEY.md §7.4 item 3). */
  def parseRmPayload(payloads: DataFrame, clusterId: String): Dataset[MetricPoint] = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads
      .withColumn("m", from_json(col("payload"), rmSchema))
      .select(
        col("ts"),
        lit(clusterId).as("clusterId"),
        lit("YARNCoreAvailablePercentage").as("metric"),
        bc_div(col("m.clusterMetrics.availableVirtualCores") * 100,
          col("m.clusterMetrics.totalVirtualCores"), 2).as("value"))
      .filter(col("value").isNotNull)
      .as[MetricPoint]
  }

  /** R14: sliding-window average (alarm `Statistic: AVERAGE, Period: 300`).
    * Defaults mirror the reference: 5-minute window sliding every 30 s
    * (the emission cadence); watermark bounds state for late data. */
  def windowAvg(points: Dataset[MetricPoint],
      window_ : String = "5 minutes",
      slide: String = "30 seconds",
      watermark: String = "10 minutes"): DataFrame =
    points.toDF()
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_, slide).as("win"),
        col("clusterId"), col("metric"))
      .agg(avg(col("value")).as("avg_value"), count(lit(1)).as("n_obs"))
      .select(col("win.start").as("win_start"), col("win.end").as("win_end"),
        col("clusterId"), col("metric"), col("avg_value"), col("n_obs"))

  /** R15: data-driven threshold classification over windowed averages. */
  def classify(avgs: DataFrame, rules: Seq[Rule] = referenceRules): DataFrame = {
    val decision = rules.foldLeft(when(lit(false), "")) { (acc, r) =>
      val pred = r.comparison match {
        case "LESS_THAN_OR_EQUAL"    => col("avg_value") <= r.threshold
        case "LESS_THAN"             => col("avg_value") < r.threshold
        case "GREATER_THAN"          => col("avg_value") > r.threshold
        case "GREATER_THAN_OR_EQUAL" => col("avg_value") >= r.threshold
      }
      acc.when(pred, r.name)
    }.otherwise("hold")
    avgs.withColumn("decision", decision)
  }

  /** The R16/R17 cooldown state machine as a Spark 4 `StatefulProcessor`:
    * one `ValueState[ClusterState]` per cluster, every decision delegated
    * to the pure [[Scaling.run]] — the processor is only state plumbing,
    * which is what made the API swap from flatMapGroupsWithState a
    * thin-wrapper change. */
  final class ScalingProcessor(
      rules: Seq[Rule], cons: Constraints, initialCapacity: Int)
    extends StatefulProcessor[String, WindowAvg, Action] {

    @transient private var st: ValueState[ClusterState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[ClusterState]("clusterState",
        Encoders.product[ClusterState], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[WindowAvg],
        timerValues: TimerValues): Iterator[Action] = {
      val st0 = if (st.exists()) st.get()
        else ClusterState(initialCapacity, Map.empty)
      val (st1, actions) = Scaling.run(rules, cons, st0, rows.toSeq)
      st.update(st1)
      actions.iterator
    }
  }

  /** R16/R17: stateful cooldown + clamp, keyed by cluster, on Spark 4's
    * `transformWithState`. Events inside a micro-batch are applied in
    * window-end order; state is the pure [[Scaling.ClusterState]] so
    * semantics equal [[Scaling.run]].
    *
    * The operator requires the RocksDB state store provider: call
    * [[ensureRocksDbStateStore]] on the session before starting the
    * query, as [[start]] does. */
  def decide(avgs: DataFrame,
      rules: Seq[Rule] = referenceRules,
      cons: Constraints = referenceConstraints,
      initialCapacity: Int = 1): Dataset[Action] = {
    val spark = avgs.sparkSession
    import spark.implicits._
    windowEvents(avgs)
      .groupByKey(_.clusterId)
      .transformWithState(
        new ScalingProcessor(rules, cons, initialCapacity),
        TimeMode.None(), OutputMode.Append())
  }

  private def windowEvents(avgs: DataFrame): Dataset[WindowAvg] = {
    val spark = avgs.sparkSession
    import spark.implicits._
    avgs.select(col("clusterId"),
        unix_timestamp(col("win_end")).as("windowEndSec"),
        col("avg_value").as("avg"))
      .as[WindowAvg]
  }

  /** The session settings every stateful graft stream query needs, set
    * before `start`:
    *  - the RocksDB state store provider that `transformWithState`
    *    requires, unless the caller already chose a RocksDB-backed one;
    *  - [[LocalSession.SharedClassLoader]], so that a restarted query
    *    reuses the generated classes of the last one instead of
    *    compiling them again (the reason is on that setting). Spark reads
    *    the flag once per session, lazily, and each `start` runs the
    *    query in a new clone of this session, so setting it here reaches
    *    every later query; sessions not built by [[LocalSession]]
    *    (`spark-submit`, the benchmark harness) get it this way.
    *
    * The name predates the second setting; it stays because the stream
    * specs and the benchmark harness call this hook by name. */
  def ensureRocksDbStateStore(spark: SparkSession): Unit = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    if (!spark.conf.getOption(key).exists(_.contains("RocksDB")))
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val (isolation, off) = LocalSession.SharedClassLoader
    spark.conf.set(isolation, off)
  }

  /** Full streaming query: source → parse → window → decide → foreachBatch
    * sink, on the reference's 30 s processing-time trigger (R13).
    * `sink` receives each micro-batch of actions; the default renders the
    * EMR resize payload as JSON lines via [[CloudWatchSink.resizePublisher]]
    * (tests pass a collector instead). */
  def start(payloads: DataFrame, clusterId: String,
      sink: (DataFrame, Long) => Unit = CloudWatchSink.resizePublisher(),
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("30 seconds")) = {
    ensureRocksDbStateStore(payloads.sparkSession)
    val actions = decide(windowAvg(parseRmPayload(payloads, clusterId)))
    actions.toDF().writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(sink)
      .start()
  }

  /** The reference's publication surface as its own streaming query:
    * every parsed observation rendered as a `put-metric-data` JSON line
    * (R12) — the streaming twin of `MetricTickMain`'s one-shot tick.
    * Emission is partition-parallel (each partition opens its own
    * endpoint via `factory`), so the sink scales with metric cardinality
    * instead of funneling through the driver. */
  def startPublish(payloads: DataFrame, clusterId: String,
      checkpointDir: String,
      factory: CloudWatchSink.EndpointFactory = CloudWatchSink.StdoutFactory,
      trigger: Trigger = Trigger.ProcessingTime("30 seconds")) =
    parseRmPayload(payloads, clusterId).toDF().writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(CloudWatchSink.metricPublisher(factory = factory))
      .start()
}
