package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

import graft.core.{QueryDef, QueryGroup, Tables => T}
import graft.state.Scaling
import graft.streaming.MetricPipeline

/** Q29 — batch replica of the reference's metric→alarm pipeline
  * (SURVEY.md §3.3): the events table plays the metric stream
  * (ts, event_type AS metric, value); a 5-minute tumbling window average
  * (CloudWatch `Statistic: AVERAGE, Period: 300`,
  * /root/reference/config/instance-group-config.json:44-49) is classified
  * by the streaming pipeline's `MetricPipeline.classify` over the
  * reference's thresholds, `Scaling.referenceRules` — avg ≤ 25 →
  * scale-out, avg > 75 → scale-in
  * (/root/reference/config/instance-group-config.json:47-51,76-80).
  *
  * The streaming twin of this query (windows + watermark +
  * mapGroupsWithState cooldown) lives in graft.streaming and is
  * golden-tested rather than oracle-checked.
  */
object MetricBatch extends QueryGroup {
  import T.dec

  private def q29(s: SparkSession, d: String): DataFrame =
    MetricPipeline.classify(T.events(s, d)
        .groupBy(window(col("ts"), "5 minutes").as("win"), col("event_type"))
        .agg(count(lit(1)).as("n_obs"),
          (sum(dec(col("value"))).cast(DoubleType) / count(lit(1))).as("avg_value"))
        .select(col("win.start").as("win_start"), col("event_type"),
          col("n_obs"), col("avg_value")),
        Scaling.referenceRules)
      .orderBy(col("win_start"), col("event_type"))

  private val q29Sql =
    """SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS win_start,
      |  event_type, COUNT(*) AS n_obs,
      |  CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) / COUNT(*) AS avg_value,
      |  CASE WHEN CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) / COUNT(*) <= 25
      |         THEN 'scale-out'
      |       WHEN CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) / COUNT(*) > 75
      |         THEN 'scale-in'
      |       ELSE 'hold' END AS decision
      |FROM events GROUP BY win_start, event_type
      |ORDER BY win_start, event_type""".stripMargin

  // ---- Q29b: SLIDING window average (the alarm's literal R14 shape:
  // Period 300 s re-evaluated on the 150 s half-cadence). Each observation
  // lands in ceil(window/slide)=2 windows; DuckDB emulates the assignment
  // with an explicit 2-way expansion over epoch-ms arithmetic.
  private def q29b(s: SparkSession, d: String): DataFrame =
    T.events(s, d)
      .groupBy(window(col("ts"), "5 minutes", "150 seconds").as("win"),
        col("event_type"))
      .agg(count(lit(1)).as("n_obs"),
        (sum(dec(col("value"))).cast(DoubleType) / count(lit(1))).as("avg_value"))
      .select(col("win.start").as("win_start"), col("event_type"),
        col("n_obs"), col("avg_value"))
      .orderBy(col("win_start"), col("event_type"))

  private val q29bSql =
    """WITH x AS (
      |  SELECT event_type, CAST(value AS DECIMAL(12,4)) AS v,
      |    (epoch_ms(CAST(ts AS TIMESTAMP))//150000 - k) * 150000 AS wsms,
      |    epoch_ms(CAST(ts AS TIMESTAMP)) AS ems
      |  FROM events CROSS JOIN (SELECT unnest(range(2)) AS k))
      |SELECT CAST(to_timestamp(wsms/1000.0) AS TIMESTAMP) AS win_start,
      |  event_type, COUNT(*) AS n_obs,
      |  CAST(SUM(v) AS DOUBLE) / COUNT(*) AS avg_value
      |FROM x WHERE ems - wsms < 300000
      |GROUP BY win_start, event_type
      |ORDER BY win_start, event_type""".stripMargin

  // ---- Sliding z-score anomaly detection --------------------------------
  // The reference's alarm is a FIXED threshold on a window average
  // (config/instance-group-config.json:47-51); the natural next step a
  // metrics user asks for is a SELF-CALIBRATING threshold: flag an
  // observation whose z-score against the trailing 20 observations of its
  // own series exceeds 2.5. The frame is ROWS-bounded (constant state per
  // row, never a growing range).
  //
  // Determinism: mean/variance come from exact DECIMAL power sums (the q33
  // trick — sum(v) and sum(v*v) are exact, order-independent), and every
  // IEEE step after the casts (divide, multiply, subtract, sqrt — sqrt is
  // correctly-rounded by IEEE-754) is written in the same order in both
  // engines, so z is bit-identical and the |z| > 2.5 cut can't flip.

  /** z-score/filter/projection tail shared by [[anomalyGlobal]] and
    * [[anomalyRangeSplit]] — input carries (event_type, ts, event_id,
    * value, v, n, s1, s2). */
  private def zTail(base: DataFrame): DataFrame =
    base.filter(col("n") >= 10)
      .withColumn("mean", col("s1") / col("n"))
      .withColumn("variance",
        greatest(col("s2") / col("n") - (col("s1") / col("n")) * (col("s1") / col("n")),
          lit(0.0)))
      .filter(col("variance") > 0)
      .withColumn("z",
        (col("v").cast(DoubleType) - col("mean")) / sqrt(col("variance")))
      .filter(abs(col("z")) > 2.5)
      .select(col("event_type"), col("ts"), col("event_id"), col("value"),
        col("n"), col("mean"), col("z"))
      .orderBy(col("event_type"), col("ts"), col("event_id"))

  /** The textbook single-window form: one partition per series. Kept as
    * the semantic reference (RangeSplitSpec diffs the split path against
    * it); its parallelism ceiling — a 3-series/100 TB stream uses 3
    * tasks — is why the registry runs [[anomalyRangeSplit]] instead. */
  private[operators] def anomalyGlobal(events: DataFrame): DataFrame = {
    val win = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-20, -1)
    zTail(events
      .select(col("event_type"), col("ts"), col("event_id"), col("value"),
        dec(col("value")).as("v"))
      .withColumn("n", count(lit(1)).over(win))
      .withColumn("s1", sum(col("v")).over(win).cast(DoubleType))
      .withColumn("s2", sum(col("v") * col("v")).over(win).cast(DoubleType)))
  }

  /** (series, segment) range-split of the same computation, so
    * parallelism scales with data volume instead of series count.
    *
    * Shape: a two-phase distributed prefix sum (the pack_sequences move)
    * assigns every row its exact global index `g` within its series —
    * position within a (series, time-bucket) partition from one bucketed
    * window, plus the bucket's cumulative offset from a metadata-scale
    * summary (series × buckets rows, AQE-broadcast) — then rows are
    * grouped into fixed `segRows`-row segments, the last 20 rows of each
    * segment are DUPLICATED into the next as frame context, and the
    * trailing-20 window runs per (series, segment). Every segment except
    * a series' last holds exactly `segRows` core rows ≥ 21, so the 20
    * context rows always cover a core row's global frame: the window
    * sees precisely the rows `g-20 … g-1`, and the exact-decimal power
    * sums make the per-segment results bit-identical to the global form.
    * Tasks scale as Σ ceil(series_rows / segRows), not |series|. */
  /** Two-phase distributed prefix sum shared by the range-split forms:
    * append the exact per-series global index `g` (1-based, ordered by
    * (ts, event_id)) and the fixed-size segment id `seg`. Phase 1 is
    * parallel by (series, time bucket); phase 2's window runs over the
    * metadata-scale (series × buckets) summary, never the data. */
  private def withGlobalIndex(rows: DataFrame, bucketMs: Long,
      segRows: Int): DataFrame = {
    val bucketed = rows
      .withColumn("bkt", expr(s"unix_millis(ts) div ${bucketMs}L"))
    val wB = Window.partitionBy(col("event_type"), col("bkt"))
      .orderBy(col("ts"), col("event_id"))
    val posed = bucketed.withColumn("pos", row_number().over(wB))
    val offs = bucketed.groupBy(col("event_type"), col("bkt"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum(col("cnt")).over(
        Window.partitionBy(col("event_type")).orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("event_type"), col("bkt"), col("off"))
    // broadcast the summary, not whichever side AQE's runtime stats
    // favour: a broadcast of `posed` would stream `offs`, whose
    // event_type partitioning then satisfies the (event_type, seg)
    // windows downstream and drops their segment exchange, so they run
    // one task per series
    posed.join(broadcast(offs), Seq("event_type", "bkt"))
      .withColumn("g", col("off") + col("pos"))
      .withColumn("seg", expr(s"(g - 1) div ${segRows}L"))
      .drop("bkt", "pos", "off")
  }

  /** The graded bucket/segment knobs shared by the two range-split
    * consumers and their shared index. */
  private val IdxBucketMs = 3600000L
  private val IdxSegRows = 1000

  /** The GLOBALLY-INDEXED event relation (event_type, ts, event_id,
    * value, g, seg) at the graded knobs — `metric_anomaly` and
    * `metric_moving_median` both start from it. The index is
    * deterministic (row_number over the (ts, event_id) total order
    * within each (series, bucket)). */
  private[graft] def indexedEvents(s: SparkSession,
      d: String): DataFrame =
    withGlobalIndex(T.events(s, d)
      .select(col("event_type"), col("ts"), col("event_id"), col("value")),
      IdxBucketMs, IdxSegRows)

  private[operators] def anomalyRangeSplit(events: DataFrame,
      bucketMs: Long = 3600000L, segRows: Int = 1000): DataFrame =
    anomalyFromIndexed(withGlobalIndex(events
      .select(col("event_type"), col("ts"), col("event_id"), col("value")),
      bucketMs, segRows), segRows)

  /** The detector over a prebuilt indexed relation — the registry path
    * feeds [[indexedEvents]], [[anomalyRangeSplit]] indexes its own
    * events (specs). */
  private def anomalyFromIndexed(gIn: DataFrame, segRows: Int): DataFrame = {
    require(segRows >= 21,
      s"anomaly range-split: segRows=$segRows cannot cover the 20-row frame")
    val g = gIn.withColumn("v", dec(col("value")))
    val core = g.withColumn("ctx", lit(false))
    // frame-overlap duplication: a segment's last 20 rows also feed the
    // NEXT segment's window partition (context-only — filtered before zTail)
    val ctx = g.filter(col("g") - col("seg") * segRows > segRows - 20)
      .withColumn("seg", col("seg") + 1)
      .withColumn("ctx", lit(true))
    val wS = Window.partitionBy(col("event_type"), col("seg"))
      .orderBy(col("g")).rowsBetween(-20, -1)
    zTail(core.unionByName(ctx)
      .withColumn("n", count(lit(1)).over(wS))
      .withColumn("s1", sum(col("v")).over(wS).cast(DoubleType))
      .withColumn("s2", sum(col("v") * col("v")).over(wS).cast(DoubleType))
      .filter(!col("ctx")))
  }

  private def anomaly(s: SparkSession, d: String): DataFrame =
    anomalyFromIndexed(indexedEvents(s, d), IdxSegRows)

  private val anomalySql =
    """WITH e AS (
      |  SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
      |    CAST(value AS DECIMAL(12,4)) AS v
      |  FROM events),
      |w AS (
      |  SELECT event_type, ts, event_id, value, v,
      |    COUNT(*) OVER win AS n,
      |    CAST(SUM(v) OVER win AS DOUBLE) AS s1,
      |    CAST(SUM(v*v) OVER win AS DOUBLE) AS s2
      |  FROM e WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id
      |    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
      |z AS (
      |  SELECT event_type, ts, event_id, value, n, s1/n AS mean,
      |    (CAST(v AS DOUBLE) - s1/n) /
      |      sqrt(greatest(s2/n - (s1/n)*(s1/n), 0)) AS z,
      |    greatest(s2/n - (s1/n)*(s1/n), 0) AS variance
      |  FROM w WHERE n >= 10)
      |SELECT event_type, ts, event_id, value, n, mean, z
      |FROM z WHERE variance > 0 AND abs(z) > 2.5
      |ORDER BY event_type, ts, event_id""".stripMargin

  // ---- metric_moving_median: Hampel-style robust residuals --------------
  // The z-score detector above is itself skewed by the outliers it hunts
  // (mean and variance are not robust); the standard hardening is the
  // Hampel filter: score each observation against the MEDIAN of its
  // centered ±10 window. The median of a FULL 21-row frame is an order
  // statistic — an exact element, no interpolation — so both engines
  // sort the same 21 doubles and pick index 10: bit-identical, and the
  // n = 21 filter removes the even-count interpolation case entirely
  // (whose lower+(upper-lower)·frac chain is not pinned across engines).
  // Output is rank-bounded: top-20 by |residual| under a total order.

  /** median/filter/projection tail shared by the global and range-split
    * forms — input carries (event_type, ts, event_id, value, n, med). */
  private def medianTail(base: DataFrame): DataFrame =
    base.filter(col("n") === 21)
      .withColumn("resid", col("value") - col("med"))
      .withColumn("abs_resid", abs(col("resid")))
      .orderBy(col("abs_resid").desc, col("event_type"), col("ts"),
        col("event_id"))
      .limit(20)
      .select(col("event_type"), col("ts"), col("event_id"), col("value"),
        col("med"), col("resid"), col("abs_resid"))

  /** Textbook one-partition-per-series form (the semantic reference —
    * `MedianSplitSpec` diffs the split path against it). */
  private[operators] def movingMedianGlobal(events: DataFrame): DataFrame = {
    val win = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id")).rowsBetween(-10, 10)
    medianTail(events
      .select(col("event_type"), col("ts"), col("event_id"), col("value"))
      .withColumn("n", count(lit(1)).over(win))
      .withColumn("med", percentile(col("value"), lit(0.5)).over(win)))
  }

  /** (series, segment) range-split of the same computation — the
    * CENTERED-frame generalization of [[anomalyRangeSplit]]: context
    * duplicates BOTH ways (a segment's last 10 rows feed the next
    * segment's preceding frame; its first 10 feed the previous segment's
    * following frame), so every core row sees exactly its global
    * g−10 … g+10 frame. Tasks scale with data volume, not series count. */
  private[operators] def movingMedianRangeSplit(events: DataFrame,
      bucketMs: Long = 3600000L, segRows: Int = 1000): DataFrame =
    movingMedianFromIndexed(withGlobalIndex(events
      .select(col("event_type"), col("ts"), col("event_id"), col("value")),
      bucketMs, segRows), segRows)

  /** The filter over a prebuilt indexed relation — the registry path
    * feeds [[indexedEvents]], [[movingMedianRangeSplit]] indexes its own
    * events. */
  private def movingMedianFromIndexed(g: DataFrame,
      segRows: Int): DataFrame = {
    require(segRows >= 21,
      s"median range-split: segRows=$segRows cannot cover the ±10 frame")
    val pis = col("g") - col("seg") * segRows // 1-based position in segment
    val core = g.withColumn("ctx", lit(false))
    val ctxNext = g.filter(pis > segRows - 10)
      .withColumn("seg", col("seg") + 1).withColumn("ctx", lit(true))
    val ctxPrev = g.filter(pis <= 10 && col("seg") > 0)
      .withColumn("seg", col("seg") - 1).withColumn("ctx", lit(true))
    val wS = Window.partitionBy(col("event_type"), col("seg"))
      .orderBy(col("g")).rowsBetween(-10, 10)
    medianTail(core.unionByName(ctxNext).unionByName(ctxPrev)
      .withColumn("n", count(lit(1)).over(wS))
      .withColumn("med", percentile(col("value"), lit(0.5)).over(wS))
      .filter(!col("ctx")))
  }

  private def movingMedian(s: SparkSession, d: String): DataFrame =
    movingMedianFromIndexed(indexedEvents(s, d), IdxSegRows)

  private val movingMedianSql =
    """WITH e AS (
      |  SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, event_id, value
      |  FROM events),
      |w AS (
      |  SELECT event_type, ts, event_id, value,
      |    COUNT(*) OVER win AS n, median(value) OVER win AS med
      |  FROM e WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id
      |    ROWS BETWEEN 10 PRECEDING AND 10 FOLLOWING))
      |SELECT event_type, ts, event_id, value, med, value - med AS resid,
      |  abs(value - med) AS abs_resid
      |FROM w WHERE n = 21
      |ORDER BY abs_resid DESC, event_type, ts, event_id LIMIT 20""".stripMargin

  // ---- metric_trend: per-series OLS trend over time ---------------------
  // Dashboard trend detection: least-squares value ~ time per series,
  // from the same exact-decimal power sums as q33 (order-independent,
  // engine-exact), closed forms as pinned IEEE chains. x = whole seconds
  // since the GLOBAL min timestamp (exact integer arithmetic on
  // microseconds — `div`, never a float epoch), so products stay small
  // enough for exact DECIMAL(18,0)/(30,4) accumulation. Degenerate
  // series (single point / zero time- or value-variance) are DEFINED
  // nulls via the same guards as q33, never a divide-by-zero.
  private def trend(s: SparkSession, d: String): DataFrame =
    trendOf(T.events(s, d))

  private[operators] def trendOf(events: DataFrame): DataFrame = {
    val ev = events.select(col("event_type"),
      unix_micros(col("ts")).as("us"), dec(col("value")).as("v"))
    val base = ev.agg(min(col("us")).as("base_us"))
    val xed = ev.crossJoin(broadcast(base))
      .withColumn("x", expr("(us - base_us) div 1000000"))
    val xdec = col("x").cast(DecimalType(18, 0))
    val agg = xed.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(xdec).cast(DoubleType).as("sx"),
      sum((col("x") * col("x")).cast(DecimalType(18, 0)))
        .cast(DoubleType).as("sx2"),
      sum(col("v")).cast(DoubleType).as("sy"),
      sum(col("v") * col("v")).cast(DoubleType).as("sy2"),
      sum(xdec * col("v")).cast(DoubleType).as("sxy"))
    val n = col("n").cast(DoubleType)
    val dx = n * col("sx2") - col("sx") * col("sx")
    val slope = (n * col("sxy") - col("sx") * col("sy")) / dx
    val r = Stats.pearson(n, col("sx"), col("sx2"), col("sy"), col("sy2"),
      col("sxy"))
    agg.select(col("event_type"), col("n"),
      when(dx > 0, slope).as("slope"),
      when(dx > 0, (col("sy") - slope * col("sx")) / n).as("intercept"),
      (r * r).as("r2"))
      .orderBy(col("event_type"))
  }

  private val trendSql =
    """WITH b AS (
      |  SELECT MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS base_us FROM events),
      |e AS (
      |  SELECT event_type,
      |    (epoch_us(CAST(ts AS TIMESTAMP)) - (SELECT base_us FROM b))
      |      // 1000000 AS x,
      |    CAST(value AS DECIMAL(12,4)) AS v
      |  FROM events),
      |a AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    CAST(SUM(CAST(x AS DECIMAL(18,0))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(x*x AS DECIMAL(18,0))) AS DOUBLE) AS sx2,
      |    CAST(SUM(v) AS DOUBLE) AS sy,
      |    CAST(SUM(v*v) AS DOUBLE) AS sy2,
      |    CAST(SUM(CAST(x AS DECIMAL(18,0)) * v) AS DOUBLE) AS sxy
      |  FROM e GROUP BY event_type)
      |SELECT event_type, n,
      |  CASE WHEN n*sx2 - sx*sx > 0
      |    THEN (n*sxy - sx*sy) / (n*sx2 - sx*sx) END AS slope,
      |  CASE WHEN n*sx2 - sx*sx > 0
      |    THEN (sy - ((n*sxy - sx*sy) / (n*sx2 - sx*sx)) * sx) / n
      |  END AS intercept,
      |  CASE WHEN n*sx2 - sx*sx > 0 AND n*sy2 - sy*sy > 0 THEN
      |    ((n*sxy - sx*sy) / (sqrt(n*sx2 - sx*sx) * sqrt(n*sy2 - sy*sy))) *
      |    ((n*sxy - sx*sy) / (sqrt(n*sx2 - sx*sx) * sqrt(n*sy2 - sy*sy)))
      |  END AS r2
      |FROM a ORDER BY event_type""".stripMargin

  // ---- metric_cusum: one-sided CUSUM drift detection ---------------------
  // The z-score/Hampel detectors flag POINT outliers; the standard tool
  // for a sustained small SHIFT (a metric drifting above its baseline) is
  // the one-sided CUSUM: S_i = max(0, S_{i-1} + x_i − target − slack).
  // The recurrence looks inherently sequential, but the classic identity
  // S_i = P_i − min(0, min_{j≤i} P_j) (P = prefix sums of the slacked
  // deviations) turns it into two running windows — and because every
  // quantity is kept in EXACT decimal (the per-series deviation is
  // n·x − Σx − n·k, n-scaled so the mean never divides), the windows are
  // order-independent exact sums: bit-identical across engines AND across
  // the bucket-parallel two-phase scan below. Output is rank-bounded:
  // top-20 by the (n-scaled) CUSUM statistic under a total order.
  private val big0 = lit(BigDecimal(0)).cast(DecimalType(38, 4))
  private val slackK = lit(BigDecimal("5.0000")).cast(DecimalType(12, 4))

  /** Exact n-scaled slacked deviations: yv = n·v − Σv − n·k per series. */
  private def cusumPrep(events: DataFrame): DataFrame = {
    val e = events.select(col("event_type"), col("ts"), col("event_id"),
      col("value"), dec(col("value")).as("v"))
    val a = e.groupBy(col("event_type")).agg(count(lit(1)).as("n"),
      sum(col("v")).cast(DecimalType(22, 4)).as("sv"))
    val nDec = col("n").cast(DecimalType(20, 0))
    e.join(broadcast(a), Seq("event_type"))
      .withColumn("yv",
        (nDec * col("v") - col("sv") - nDec * slackK).cast(DecimalType(38, 4)))
      .drop("n", "sv", "v")
  }

  // s is computed in DECIMAL(38,4) (a cast to DOUBLE is rounded differently
  // by the two engines: Spark correctly-rounds via BigDecimal; DuckDB
  // divides the scaled integer in floating point — one ulp apart on
  // 11-digit values) but SURFACED as a canonical string: the driver's
  // hasher cannot canonicalize a >18-precision decimal, so per the
  // q40_decimal_canary precedent both sides render the exact value as
  // text ('2345678.1234' — scale 4 prints identically in both engines).
  private def cusumTail(base: DataFrame): DataFrame =
    base.withColumn("s", (col("pv") - col("mn")).cast(DecimalType(38, 4)))
      .orderBy(col("s").desc, col("event_type"), col("ts"), col("event_id"))
      .limit(20)
      .select(col("event_type"), col("ts"), col("event_id"), col("value"),
        col("s").cast(StringType).as("s"))

  /** Textbook one-partition-per-series prefix scan (the oracle form). */
  private[operators] def cusumGlobal(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cusumTail(cusumPrep(events)
      .withColumn("pv", sum(col("yv")).over(w).cast(DecimalType(38, 4)))
      .withColumn("mn", least(big0, min(col("pv")).over(w))))
  }

  /** Bucket-parallel two-phase prefix scan: phase 1 computes the local
    * running sum/min WITHIN each (series, time bucket); phase 2 combines
    * per-bucket totals and minima on the metadata-scale (series × buckets)
    * summary — global prefix = bucket offset + local prefix, global
    * running min = min(best over previous buckets, offset + local min).
    * Decimal addition is associative, so this is bit-identical to the
    * sequential form (`CusumScanSpec`) while the UNBOUNDED PRECEDING
    * window parallelizes by data volume, not series count. */
  private[operators] def cusumBucketScan(events: DataFrame,
      bucketMs: Long = 3600000L): DataFrame = {
    val y = cusumPrep(events)
      .withColumn("bkt", expr(s"unix_millis(ts) div ${bucketMs}L"))
    val wL = Window.partitionBy(col("event_type"), col("bkt"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = y
      .withColumn("lp", sum(col("yv")).over(wL).cast(DecimalType(38, 4)))
      .withColumn("lm", min(col("lp")).over(wL))
    val wPrev = Window.partitionBy(col("event_type")).orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bs = local.groupBy(col("event_type"), col("bkt"))
      .agg(sum(col("yv")).cast(DecimalType(38, 4)).as("tot"),
        min(col("lp")).as("bmin"))
      .withColumn("off",
        coalesce(sum(col("tot")).over(wPrev), big0).cast(DecimalType(38, 4)))
      .withColumn("gm", (col("off") + col("bmin")).cast(DecimalType(38, 4)))
      .withColumn("gprev", min(col("gm")).over(wPrev)) // null in bucket 0
      .select(col("event_type"), col("bkt"), col("off"), col("gprev"))
    cusumTail(local.join(bs, Seq("event_type", "bkt"))
      .withColumn("pv", (col("off") + col("lp")).cast(DecimalType(38, 4)))
      // least() skips nulls: a first bucket has no previous-bucket minimum
      .withColumn("mn", least(big0, col("gprev"),
        (col("off") + col("lm")).cast(DecimalType(38, 4)))))
  }

  private def cusum(s: SparkSession, d: String): DataFrame =
    cusumBucketScan(T.events(s, d))

  private val cusumSql =
    """WITH e AS (
      |  SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
      |    CAST(value AS DECIMAL(12,4)) AS v
      |  FROM events),
      |a AS (
      |  SELECT event_type, COUNT(*) AS n, CAST(SUM(v) AS DECIMAL(22,4)) AS sv
      |  FROM e GROUP BY event_type),
      |y AS (
      |  SELECT e.event_type, e.ts, e.event_id, e.value,
      |    CAST(CAST(a.n AS DECIMAL(20,0)) * e.v - a.sv
      |      - CAST(a.n AS DECIMAL(20,0)) * CAST(5.0000 AS DECIMAL(12,4))
      |      AS DECIMAL(38,4)) AS yv
      |  FROM e JOIN a USING (event_type)),
      |p AS (
      |  SELECT *, CAST(SUM(yv) OVER w AS DECIMAL(38,4)) AS pv
      |  FROM y WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |m AS (
      |  SELECT *, LEAST(CAST(0 AS DECIMAL(38,4)), MIN(pv) OVER w) AS mn
      |  FROM p WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT event_type, ts, event_id, value,
      |  CAST(CAST(pv - mn AS DECIMAL(38,4)) AS VARCHAR) AS s
      |FROM m
      |ORDER BY CAST(pv - mn AS DECIMAL(38,4)) DESC, event_type, ts, event_id
      |LIMIT 20""".stripMargin

  // ---- metric_seasonal: hour-of-day profile + deseasonalized outliers ----
  // Operational metrics have daily shape; scoring against the GLOBAL mean
  // flags every rush hour. The baseline fix: profile each (series, hour)
  // — a metadata-scale aggregate (series × 24 rows) from exact decimal
  // sums with ONE pinned IEEE division — broadcast it back, and rank
  // residuals against the hour's own average. Rank-bounded top-20 under
  // a total order; the profile join is a broadcast at any corpus size.
  private def seasonal(s: SparkSession, d: String): DataFrame = {
    val e = T.events(s, d).select(col("event_type"), col("ts"),
      col("event_id"), col("value"), dec(col("value")).as("v"))
      .withColumn("hr", hour(col("ts")).cast(LongType))
    val prof = e.groupBy(col("event_type"), col("hr"))
      .agg(count(lit(1)).as("n_obs"),
        (sum(col("v")).cast(DoubleType) / count(lit(1))).as("hour_avg"))
    e.join(broadcast(prof), Seq("event_type", "hr"))
      .withColumn("resid", col("value") - col("hour_avg"))
      .withColumn("abs_resid", abs(col("resid")))
      .orderBy(col("abs_resid").desc, col("event_type"), col("ts"),
        col("event_id"))
      .limit(20)
      .select(col("event_type"), col("hr"), col("ts"), col("event_id"),
        col("value"), col("n_obs"), col("hour_avg"), col("resid"))
  }

  private val seasonalSql =
    """WITH e AS (
      |  SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
      |    CAST(value AS DECIMAL(12,4)) AS v,
      |    CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hr
      |  FROM events),
      |p AS (
      |  SELECT event_type, hr, COUNT(*) AS n_obs,
      |    CAST(SUM(v) AS DOUBLE) / COUNT(*) AS hour_avg
      |  FROM e GROUP BY event_type, hr)
      |SELECT e.event_type, e.hr, e.ts, e.event_id, e.value, p.n_obs,
      |  p.hour_avg, e.value - p.hour_avg AS resid
      |FROM e JOIN p USING (event_type, hr)
      |ORDER BY abs(e.value - p.hour_avg) DESC, e.event_type, e.ts, e.event_id
      |LIMIT 20""".stripMargin

  override val defs: Seq[(String, QueryDef)] = Seq(
    "q29_metric_window" -> QueryDef(q29, Some(q29Sql)),
    "q29b_sliding_window" -> QueryDef(q29b, Some(q29bSql)),
    "metric_anomaly" -> QueryDef(anomaly, Some(anomalySql)),
    "metric_moving_median" -> QueryDef(movingMedian, Some(movingMedianSql)),
    "metric_trend" -> QueryDef(trend, Some(trendSql)),
    "metric_cusum" -> QueryDef(cusum, Some(cusumSql)),
    "metric_seasonal" -> QueryDef(seasonal, Some(seasonalSql)),
  )
}
