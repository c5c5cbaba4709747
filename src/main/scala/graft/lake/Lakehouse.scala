package graft.lake

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StringType}

import graft.core.{DerivedFixture, QueryDef, QueryGroup, Tables => T}
import graft.streaming.CommitFiles

/** Lakehouse READ path over the repo's write-side layout pieces: the
  * z-ordered multi-file layout with a per-file min/max manifest (the
  * piece that makes `q52_zorder_layout`'s curve key actually prune I/O),
  * and snapshot/time-travel reads over the `v=<n>` + `_latest` versioned
  * table layout `StreamMerge` commits.
  *
  * The manifest is Iceberg/Delta's core trick re-expressed on plain
  * parquet: each layout file (here a `fid=` directory keyed by the high
  * bits of the Morton key) carries min/max of the clustered dimensions;
  * a range predicate prunes to overlapping files BEFORE Spark ever lists
  * data, then the exact row filter runs on the survivors — file-level
  * skipping on columns that are NOT the partition key, which directory
  * pruning alone cannot do. Pruning is lossless by the interval
  * argument: a file whose [min,max] misses the predicate range on any
  * clustered dimension cannot contain a matching row.
  *
  * Scale: the manifest has one row per file — metadata-scale (a 100 TB
  * table at 1 GiB files is ~10⁵ manifest rows). Overlap planning is
  * two-mode on the manifest's BYTE size ([[ZLayout.LocalPlanBytesKey]]):
  * small manifests collect once and filter on the driver (Iceberg's
  * local planning), larger ones run the identical filter as a Spark job
  * and collect only the surviving fids — `LakeSpec` drives the same
  * read through both modes and pins equality. The z-order key bounds BOTH
  * dimensions per file (narrow extents per curve bucket — the
  * `q52_zorder_layout` measurement), so a 2-D range predicate selects
  * O(perimeter) files instead of a full dimension stripe.
  */
/** THE two-mode overlap planner — one implementation for every manifest
  * shape in the lake family (batch `_manifest` keyed by fid, streamed
  * `_manifest` keyed by (batch, fid), COW filelists keyed by path). At
  * or below `spark.graft.lake.localPlanBytes` the manifest collects
  * once and filters on the driver (Iceberg's local planning — no
  * job-scheduling latency at metadata scale); above it the identical
  * filter runs as a Spark job and only SURVIVING key rows reach the
  * driver. Both modes compute the identical set — pinned per caller
  * (`LakeSpec`, `StreamLakeSpec`, `CowSpec`), and keeping the logic in
  * ONE place is what makes that contract survive future edits. */
private[lake] object OverlapPlan {
  /** Key projections of `manifest` rows whose `[c_min, c_max]` stats
    * overlap EVERY `(c, lo, hi)` range. `manifestBytes` picks the mode
    * (a driver-side file stat — no Spark job, no read). */
  def survivors(spark: SparkSession, manifest: DataFrame,
      manifestBytes: Long, keyCols: Seq[org.apache.spark.sql.Column],
      ranges: Seq[(String, Long, Long)]): Seq[org.apache.spark.sql.Row] = {
    require(ranges.nonEmpty, "lake: overlap planning needs at least one range")
    val limit = spark.conf.getOption(ZLayout.LocalPlanBytesKey)
      .map(_.toLong).getOrElse(ZLayout.LocalPlanBytesDefault)
    val nKeys = keyCols.size
    if (manifestBytes <= limit)
      manifest
        .select(keyCols ++ ranges.flatMap { case (c, _, _) =>
          Seq(col(s"${c}_min"), col(s"${c}_max")) }: _*)
        .collect().toSeq
        .filter { r =>
          ranges.zipWithIndex.forall { case ((_, lo, hi), i) =>
            // null stats (a unit whose column is all-null) must behave
            // exactly like the Spark-job mode's SQL comparison — NULL
            // compares false, the row is dropped — or the two modes
            // disagree on degenerate manifests
            !r.isNullAt(nKeys + 2 * i) && !r.isNullAt(nKeys + 2 * i + 1) &&
              r.getLong(nKeys + 2 * i + 1) >= lo &&
              r.getLong(nKeys + 2 * i) <= hi } }
        .map(r => org.apache.spark.sql.Row.fromSeq(
          (0 until nKeys).map(r.get)))
    else {
      val pred = ranges.map { case (c, lo, hi) =>
        col(s"${c}_max") >= lo && col(s"${c}_min") <= hi }.reduce(_ && _)
      manifest.filter(pred).select(keyCols: _*).collect().toSeq
    }
  }

  /** Driver-side byte size of a manifest directory — the mode signal. */
  def bytesOf(dir: java.nio.file.Path): Long =
    CommitFiles.partSet(dir).toSeq
      .map(f => new java.io.File(f).length()).sum
}

object ZLayout {
  /** fid = zkey div 2^20: the Morton key's high bits (ck bits ≥10
    * interleaved with dy bits ≥10), so one fid bounds BOTH dimensions.
    * Yields ~7 files at sf0.01, ~60 at sf0.1, ~250 at the sf1 sweep —
    * and at 100 TB the same divisor is a layout knob: pick it so a fid
    * holds ~1 GiB (the manifest stays one row per file either way). */
  val FidDiv = 1L << 20

  /** The clustered projection of orders: ck (custkey, 16-bit wrapped) and
    * dy (epoch days) — the same two dimensions q52_zorder_layout
    * measures. */
  def ordersProjection(orders: DataFrame): DataFrame =
    orders.select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"),
        (col("o_custkey") % 65536L).as("ck"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast("date"))
          .cast("long").as("dy"))
      .withColumn("zkey",
        graft.functions.ZOrderKey.zorderKey(col("ck"), col("dy") % 65536L))
      .withColumn("fid", expr(s"zkey div ${FidDiv}L"))

  /** Long-typed columns carrying per-file min/max in the manifest —
    * Iceberg-style GENERAL column stats, not just the two clustered
    * dims: a range predicate on any of these prunes files. The payoff
    * tracks how well the column correlates with the physical layout
    * (the Iceberg reality): `o_custkey` rides ck exactly, so it prunes
    * like a clustered dim; `o_orderkey` is layout-independent, so its
    * per-file extents span nearly the whole domain and keep every
    * file — stats make the read CORRECT either way, the layout decides
    * whether they make it cheap. */
  val StatsCols: Seq[String] = Seq("ck", "dy", "o_custkey", "o_orderkey")

  /** Write the clustered layout + its `_manifest` (one row per fid with
    * count + min/max of every [[StatsCols]] column). `_`-prefixed
    * children are invisible to Spark's parquet reader, so the manifest
    * rides inside the table directory like Delta's `_delta_log`. */
  def write(orders: DataFrame, path: String): Unit = {
    val laid = ordersProjection(orders)
    laid.repartition(col("fid"))
      .sortWithinPartitions(col("fid"), col("zkey"))
      .write.mode("overwrite").partitionBy("fid").parquet(path)
    val stats = StatsCols.flatMap(c =>
      Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max")))
    laid.groupBy(col("fid"))
      .agg(count(lit(1)).as("n"), stats: _*)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_manifest")
  }

  def manifest(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/_manifest")

  /** Manifest bytes at or below this run overlap planning on the driver
    * (collect-then-filter, Iceberg's local planning — no job scheduling
    * latency for the common metadata-scale manifest); above it the
    * filter runs as a Spark job and only the SURVIVING fids are
    * collected (bounded by the true overlap set, never the manifest
    * size). Override per session for testing or huge-manifest layouts. */
  val LocalPlanBytesKey = "spark.graft.lake.localPlanBytes"
  val LocalPlanBytesDefault: Long = 16L << 20

  /** fids whose stats overlap EVERY `(column, lo, hi)` range — the
    * [[OverlapPlan]] two-mode planner keyed by fid. Both modes compute
    * the identical set (`LakeSpec` pins it): overlap is per-row over
    * (min,max) pairs, so it distributes trivially. */
  private[lake] def overlapFids(spark: SparkSession, path: String,
      ranges: Seq[(String, Long, Long)]): Seq[Long] = {
    ranges.foreach { case (c, _, _) => require(StatsCols.contains(c),
      s"lake: no manifest stats for column '$c' (have: ${StatsCols.mkString(", ")})") }
    OverlapPlan.survivors(spark, manifest(spark, path),
        OverlapPlan.bytesOf(Paths.get(s"$path/_manifest")),
        Seq(col("fid")), ranges)
      .map(_.getLong(0)).sorted
  }

  /** Manifest-pruned scan on arbitrary [[StatsCols]] ranges: keep only
    * files whose stats overlap EVERY range, then apply the exact row
    * predicate on the survivors. Returns rows identical to an unpruned
    * filter (`LakeSpec` pins the equality AND that fewer files are
    * actually listed). */
  def prunedOrdersBy(spark: SparkSession, path: String,
      ranges: Seq[(String, Long, Long)]): DataFrame = {
    val fids = overlapFids(spark, path, ranges)
    val scan =
      if (fids.isEmpty) spark.read.parquet(path).limit(0)
      else spark.read.option("basePath", path)
        .parquet(fids.map(f => s"$path/fid=$f"): _*)
    ranges.map { case (c, lo, hi) => col(c).between(lo, hi) }
      .foldLeft(scan)((df, p) => df.filter(p))
  }

  /** The clustered-dimension special case every existing consumer uses. */
  def prunedOrders(spark: SparkSession, path: String,
      ckLo: Long, ckHi: Long, dyLo: Long, dyHi: Long): DataFrame =
    prunedOrdersBy(spark, path,
      Seq(("ck", ckLo, ckHi), ("dy", dyLo, dyHi)))
}

/** Snapshot / time-travel reads over the `v=<version>` + `_latest`
  * pointer layout that `StreamMerge` (and the batch [[SnapshotFixture]])
  * commit. Retention is the writer's policy; reads of an expired version
  * fail LOUDLY naming what is retained, never by silently serving a
  * different version. */
object TimeTravel {
  /** Versions currently on disk, ascending. */
  def versions(dir: String): Seq[Long] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .collect { case f if f.isDirectory && f.getName.startsWith("v=") =>
        f.getName.stripPrefix("v=").toLong }
      .sorted.toSeq

  def latestVersion(dir: String): Option[Long] =
    CommitFiles.readPointer(Paths.get(dir, "_latest"))

  /** Read one exact retained COMMITTED version. A `v=` directory above
    * the `_latest` pointer is an in-flight (possibly torn) write — a
    * crash between snapshot write and pointer flip leaves exactly that
    * state — so it is refused as loudly as a missing version. */
  def readVersion(spark: SparkSession, dir: String, v: Long): DataFrame = {
    val have = versions(dir)
    val committed = latestVersion(dir)
    require(have.contains(v),
      s"time_travel: version $v is not retained at $dir (have: " +
        s"${have.mkString(", ")}; latest committed: $committed)")
    require(committed.exists(v <= _),
      s"time_travel: version $v at $dir is not committed (latest " +
        s"committed: $committed) — an uncommitted snapshot may be torn")
    spark.read.parquet(s"$dir/v=$v")
  }

  /** Retention enforcement: delete every committed version EXCEPT the
    * newest `keepLast`, returning the versions vacuumed. Atomic w.r.t.
    * the `_latest` pointer and the readable set:
    *
    *   - the pointer is never touched — `_latest` keeps naming a
    *     retained version by construction (`keepLast >= 1` always
    *     retains the latest committed version);
    *   - versions ABOVE the pointer (in-flight, possibly torn writes)
    *     are never touched — they belong to the writer;
    *   - each victim leaves the readable set in ONE atomic rename to a
    *     `.vacuum-` sibling (then the tree is deleted), so
    *     [[versions]]/[[readVersion]] never observe a half-deleted
    *     `v=` dir — a vacuumed read fails the loud "not retained"
    *     refusal, never a partial scan; a crash between rename and
    *     delete leaves only invisible `.vacuum-` debris, swept at the
    *     next vacuum.
    *
    * A reader that PLANNED against a version before its vacuum can
    * still lose files mid-scan — the standard maintenance-window
    * caveat of every plain-filesystem layout here (compaction has the
    * same one); such a read fails with a missing-file error, never
    * wrong rows. */
  def vacuum(dir: String, keepLast: Int): Seq[Long] = {
    require(keepLast >= 1,
      s"time_travel: keepLast must be >= 1 (got $keepLast) — vacuuming " +
        "every version would unname the _latest pointer's target")
    // sweep debris a crashed earlier vacuum left behind
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(".vacuum-"))
      .foreach(CommitFiles.rmTree)
    val committed = latestVersion(dir).getOrElse(return Seq.empty)
    val retained = versions(dir).filter(_ <= committed)
    val victims = retained.dropRight(keepLast)
    victims.foreach { v =>
      val live = Paths.get(dir, s"v=$v")
      val gone = Paths.get(dir, s".vacuum-v=$v")
      java.nio.file.Files.move(live, gone)
      CommitFiles.rmTree(gone.toFile)
    }
    victims
  }

  /** Iceberg-style as-of read: the greatest committed version ≤ `v`.
    * Only COMMITTED versions qualify — a `v=` directory above the
    * `_latest` pointer is an in-flight write, not readable state. */
  def readAsOf(spark: SparkSession, dir: String, v: Long): DataFrame = {
    val committed = latestVersion(dir).getOrElse(
      throw new IllegalStateException(s"time_travel: no committed version at $dir"))
    val have = versions(dir).filter(x => x <= v && x <= committed)
    require(have.nonEmpty,
      s"time_travel: nothing committed at or before version $v at $dir " +
        s"(retained: ${versions(dir).mkString(", ")})")
    spark.read.parquet(s"$dir/v=${have.max}")
  }
}

/** The z-ordered orders layout + manifest, derived per source dir
  * through the staged/fingerprinted [[graft.core.DerivedFixture]]
  * machinery. */
object LakeFixture extends DerivedFixture("lake_orders", "orders") {
  // the "s2" suffix versions the MANIFEST schema (per-StatsCols min/max
  // since round 12) — older fixtures' two-dim manifests must re-derive
  override protected def layoutTag: String =
    s"z${java.lang.Long.numberOfTrailingZeros(ZLayout.FidDiv)}-s2"
  override protected def build(s: SparkSession, dir: String, target: String): Unit =
    ZLayout.write(T.orders(s, dir), target)
}

/** Three committed snapshots of orders (the batch twin of StreamMerge's
  * layout): v=0 covers orderdates before 1997, v=1 before 1999, v=2 is
  * the full table; `_latest` = 2. Deterministic date cutoffs, so the
  * DuckDB oracle can replay any version as a plain filter. */
object SnapshotFixture extends DerivedFixture("lake_snapshots", "orders") {
  val Cut0 = "1997-01-01"
  val Cut1 = "1999-01-01"
  override protected def build(s: SparkSession, dir: String, target: String): Unit = {
    val orders = T.orders(s, dir)
    def cutoff(c: String) = col("o_orderdate") < lit(c).cast("timestamp")
    orders.filter(cutoff(Cut0)).write.parquet(s"$target/v=0")
    orders.filter(cutoff(Cut1)).write.parquet(s"$target/v=1")
    orders.write.parquet(s"$target/v=2")
    CommitFiles.atomicWrite(Paths.get(target, "_latest"), "2")
  }
}

/** Three committed snapshots then `vacuum(keepLast = 2)` — the fixture
  * behind `lake_vacuum_read`: the registry row re-grades every round
  * that vacuum removed EXACTLY the expired version (a wrong victim set
  * changes the per-version aggregates and reds the row). */
object VacuumedFixture extends DerivedFixture("lake_vacuumed", "orders") {
  override protected def build(s: SparkSession, dir: String, target: String): Unit = {
    val orders = T.orders(s, dir)
    def cutoff(c: String) = col("o_orderdate") < lit(c).cast("timestamp")
    orders.filter(cutoff(SnapshotFixture.Cut0)).write.parquet(s"$target/v=0")
    orders.filter(cutoff(SnapshotFixture.Cut1)).write.parquet(s"$target/v=1")
    orders.write.parquet(s"$target/v=2")
    CommitFiles.atomicWrite(Paths.get(target, "_latest"), "2")
    val gone = TimeTravel.vacuum(target, keepLast = 2)
    require(gone == Seq(0L), s"vacuum fixture: expected to expire v=0, got $gone")
  }
}

/** Registry queries for the lakehouse read path. Every oracle replays
  * against the RAW `orders` view (never the fixture path), so a green
  * row proves the whole chain: fixture freshness, layout fidelity,
  * manifest stats, pruning losslessness, snapshot content. */
object LakeQueries extends QueryGroup {

  // fixed 2-D predicate: custkeys 200–399 during 1996 (epoch days
  // 9496–9861) — selective on BOTH clustered dimensions, so the manifest
  // prunes to a small fid subset (LakeSpec asserts the file-count drop)
  private val (ckLo, ckHi, dyLo, dyHi) = (200L, 399L, 9496L, 9861L)

  /** Aggregate over the manifest-pruned scan; equals the same aggregate
    * over an unpruned filter iff pruning lost nothing. revenue is exact
    * DECIMAL(18,2) internally, rendered as a canonical STRING at the
    * surface (q40 precedent — raw decimals beyond 15 digits are banned
    * by OutputSurfaceSpec since the round-12 driver reds). */
  private def pruneRead(s: SparkSession, d: String): DataFrame = {
    val p = LakeFixture.ensure(s, d)
    ZLayout.prunedOrders(s, p, ckLo, ckHi, dyLo, dyHi)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_orderkey")).as("key_sum"),
        sum(col("o_totalprice").cast(DecimalType(12, 2)))
          .cast(DecimalType(18, 2)).cast(StringType).as("revenue"))
      .orderBy(col("o_orderstatus"))
  }

  private val pruneReadSql =
    s"""SELECT o_orderstatus, COUNT(*) AS n,
       |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS VARCHAR) AS revenue
       |FROM orders
       |WHERE o_custkey % 65536 BETWEEN $ckLo AND $ckHi
       |  AND datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
       |    BETWEEN $dyLo AND $dyHi
       |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** The streamed twin of [[pruneRead]]: the same 2-D predicate and
    * aggregate over a layout built by THREE `StreamLake.applyBatch`
    * micro-batches (deterministic date-cutoff batches) instead of one
    * batch write, pruned at (batch, fid) granularity — the oracle is the
    * identical raw-orders SQL, so a green row proves the streaming
    * ingest + per-batch manifest + pruning chain end-to-end. */
  private def streamIngest(s: SparkSession, d: String): DataFrame = {
    val p = StreamLakeFixture.ensure(s, d)
    StreamLake.prunedOrders(s, p, ckLo, ckHi, dyLo, dyHi)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_orderkey")).as("key_sum"),
        sum(col("o_totalprice").cast(DecimalType(12, 2)))
          .cast(DecimalType(18, 2)).cast(StringType).as("revenue"))
      .orderBy(col("o_orderstatus"))
  }

  /** Like [[streamIngest]] but over a layout that was COMPACTED after
    * the three ingest batches — the same raw-orders oracle grades that
    * `StreamLake.compact`'s staged swap preserved every row and kept the
    * folded manifest prunable, every round at both scales. */
  private def compactRead(s: SparkSession, d: String): DataFrame = {
    val p = CompactedLakeFixture.ensure(s, d)
    StreamLake.prunedOrders(s, p, ckLo, ckHi, dyLo, dyHi)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_orderkey")).as("key_sum"),
        sum(col("o_totalprice").cast(DecimalType(12, 2)))
          .cast(DecimalType(18, 2)).cast(StringType).as("revenue"))
      .orderBy(col("o_orderstatus"))
  }

  /** The manifest itself, oracle-replayed from raw orders through the
    * SAME interleave rendering as the engine's codegen'd expression —
    * grades layout fidelity AND fixture freshness every round. */
  private def manifestStats(s: SparkSession, d: String): DataFrame = {
    val p = LakeFixture.ensure(s, d)
    ZLayout.manifest(s, p)
      .select(col("fid"), col("n"), col("ck_min"), col("ck_max"),
        col("dy_min"), col("dy_max"))
      .orderBy(col("fid"))
  }

  private val manifestStatsSql = {
    val inter = graft.functions.ZOrderUtil.interleaveSql("ck", "dy16")
    s"""WITH base AS (
       |  SELECT o_custkey % 65536 AS ck,
       |    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS dy
       |  FROM orders),
       |z AS (SELECT ck, dy, $inter AS zkey
       |      FROM (SELECT ck, dy, dy % 65536 AS dy16 FROM base))
       |SELECT zkey // ${ZLayout.FidDiv} AS fid, COUNT(*) AS n,
       |  MIN(ck) AS ck_min, MAX(ck) AS ck_max,
       |  MIN(dy) AS dy_min, MAX(dy) AS dy_max
       |FROM z GROUP BY fid ORDER BY fid""".stripMargin
  }

  /** Read the MIDDLE committed snapshot (not latest) — the time-travel
    * read; the oracle replays it as the deterministic cutoff filter. */
  private def timeTravel(s: SparkSession, d: String): DataFrame = {
    val p = SnapshotFixture.ensure(s, d)
    TimeTravel.readVersion(s, p, 1L)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"))
      .orderBy(col("o_orderstatus"))
  }

  private val timeTravelSql =
    s"""SELECT o_orderstatus, COUNT(*) AS n,
       |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
       |FROM orders WHERE o_orderdate < TIMESTAMP '${SnapshotFixture.Cut1}'
       |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Keys in the latest snapshot absent from v=1 — the what-changed
    * question time travel exists to answer. Anti join on the snapshot
    * key: shuffle on o_orderkey at worst; with a CDC-sized newer side
    * AQE broadcasts the build side. */
  private def snapshotDiff(s: SparkSession, d: String): DataFrame = {
    val p = SnapshotFixture.ensure(s, d)
    val latest = TimeTravel.readAsOf(s, p, Long.MaxValue)
    val old = TimeTravel.readVersion(s, p, 1L)
    latest.join(old.select(col("o_orderkey")), Seq("o_orderkey"), "left_anti")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"))
      .orderBy(col("o_orderstatus"))
  }

  private val snapshotDiffSql =
    s"""SELECT o_orderstatus, COUNT(*) AS n,
       |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
       |FROM orders WHERE o_orderdate >= TIMESTAMP '${SnapshotFixture.Cut1}'
       |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Incremental view maintenance: the latest-version aggregate computed
    * WITHOUT re-scanning the full table — aggregate(v1) merged with
    * aggregate(the keys v2 added), the per-commit refresh a lakehouse
    * materialized view runs (count/sum are distributive, so partials
    * merge exactly). The oracle replays the FULL-table aggregate, so a
    * green row proves the incremental path ≡ the full recompute. At
    * scale the v1 aggregate is the stored view state (metadata-sized,
    * one row per group) and only the delta is scanned per refresh. */
  private def incrementalAgg(s: SparkSession, d: String): DataFrame = {
    val p = SnapshotFixture.ensure(s, d)
    val v1 = TimeTravel.readVersion(s, p, 1L)
    val v2 = TimeTravel.readAsOf(s, p, Long.MaxValue)
    val delta = v2.join(v1.select(col("o_orderkey")), Seq("o_orderkey"),
      "left_anti")
    def part(df: DataFrame) = df.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"))
    part(v1).unionByName(part(delta))
      .groupBy(col("o_orderstatus"))
      .agg(sum(col("n")).as("n"), sum(col("key_sum")).as("key_sum"))
      .orderBy(col("o_orderstatus"))
  }

  private val incrementalAggSql =
    """SELECT o_orderstatus, COUNT(*) AS n,
      |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // a NON-clustered stats column's range (o_custkey is a payload column;
  // its pruning power comes from riding ck, the Iceberg correlation
  // story — LakeSpec asserts the file-count drop)
  private val (custLo, custHi) = (100L, 299L)

  /** Pruned scan on a payload column's manifest stats — the general
    * per-column pruning Iceberg does, beyond the two clustered dims.
    * Oracle: the same range on raw orders, so a green row proves the
    * per-column stats are faithful and the pruning lossless. */
  private def pruneColumn(s: SparkSession, d: String): DataFrame = {
    val p = LakeFixture.ensure(s, d)
    ZLayout.prunedOrdersBy(s, p, Seq(("o_custkey", custLo, custHi)))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_orderkey")).as("key_sum"),
        sum(col("o_totalprice").cast(DecimalType(12, 2)))
          .cast(DecimalType(18, 2)).cast(StringType).as("revenue"))
      .orderBy(col("o_orderstatus"))
  }

  private val pruneColumnSql =
    s"""SELECT o_orderstatus, COUNT(*) AS n,
       |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS VARCHAR) AS revenue
       |FROM orders WHERE o_custkey BETWEEN $custLo AND $custHi
       |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Per-version aggregates over the POST-VACUUM retained set: the
    * version list comes off disk, so a vacuum that expired the wrong
    * version (or failed to expire v=0) surfaces as an extra/missing
    * row — retention semantics, oracle-graded every round. The loop is
    * over RETAINED VERSIONS (retention-policy-bounded metadata, 2 here),
    * not data. */
  private def vacuumRead(s: SparkSession, d: String): DataFrame = {
    val p = VacuumedFixture.ensure(s, d)
    TimeTravel.versions(p).map { v =>
      TimeTravel.readVersion(s, p, v)
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"))
        .select(lit(v).as("v"), col("n"), col("key_sum"))
    }.reduce(_.unionByName(_)).orderBy(col("v"))
  }

  private val vacuumReadSql =
    s"""SELECT * FROM (
       |  SELECT CAST(1 AS BIGINT) AS v, COUNT(*) AS n,
       |    CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
       |  FROM orders WHERE o_orderdate < TIMESTAMP '${SnapshotFixture.Cut1}'
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT) AS v, COUNT(*) AS n,
       |    CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
       |  FROM orders)
       |ORDER BY v""".stripMargin

  override def defs: Seq[(String, QueryDef)] = Seq(
    "lake_prune_read" -> QueryDef(pruneRead, Some(pruneReadSql)),
    "lake_prune_column" -> QueryDef(pruneColumn, Some(pruneColumnSql)),
    "lake_vacuum_read" -> QueryDef(vacuumRead, Some(vacuumReadSql)),
    "lake_manifest_stats" -> QueryDef(manifestStats, Some(manifestStatsSql)),
    "lake_time_travel" -> QueryDef(timeTravel, Some(timeTravelSql)),
    "lake_snapshot_diff" -> QueryDef(snapshotDiff, Some(snapshotDiffSql)),
    "lake_incremental_agg" -> QueryDef(incrementalAgg, Some(incrementalAggSql)),
    "lake_stream_ingest" -> QueryDef(streamIngest, Some(pruneReadSql)),
    "lake_compact_read" -> QueryDef(compactRead, Some(pruneReadSql)))
}
