package graft.lake

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.streaming.CommitFiles

/** Streaming lakehouse ingest: an orders stream continuously grows the
  * z-ordered, manifest-carrying layout that [[ZLayout]] builds in batch —
  * the lake family's ingestion path, the way `StreamIvf` twins the batch
  * `IvfIndex` and `StreamMerge` twins `q47_merge_upsert`.
  *
  * Layout — append-only batches: `batch=<id>/fid=<f>/…` data files plus
  * `_manifest/batch=<id>/` stats rows (fid, n, ck/dy min/max), with
  * `_latest` naming the highest committed batch, committed by the
  * [[graft.streaming.CommitFiles.commitBatch]] protocol. Batch-first
  * nesting is what makes replay idempotent: a replayed batch OVERWRITES
  * its own `batch=<id>` root and `_manifest/batch=<id>` wholesale, and an
  * uncommitted batch dir is ignored by every reader (reads filter
  * `batch <= _latest`). An EMPTY batch still flips the pointer (the
  * StreamIvf zero-norm lesson): `partitionBy` writes no dirs for an
  * empty frame, and readers tolerate the gap by reading only what exists.
  *
  * Pruning gets FINER than the batch layout's, for free: manifest rows
  * are per (batch, fid), so a range predicate prunes at (batch, fid)
  * granularity — a fid whose extents only overlapped the predicate in
  * one ingest batch scans one batch's file, not every batch's. Compacting
  * batches back to the one-dir-per-fid form is [[ZLayout.write]] over
  * [[scanAll]] ([[compact]]); not run inline here.
  *
  * Scale notes: per batch the work is one narrow projection + one hash
  * exchange on fid + a fid-count-bounded stats aggregate — no reads of
  * prior batches, no global state; the manifest stays one row per
  * (batch, fid), metadata-scale. */
object StreamLake {

  /** Highest committed batch, if any. */
  def latestVersion(dir: String): Option[Long] = CommitFiles.committed(dir)

  /** `batch=` children of `root` committed per `tableDir`'s pointer. */
  private def committedDirs(tableDir: String, root: String): Seq[String] =
    latestVersion(tableDir).toSeq.flatMap { v =>
      Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
        .collect { case f if f.isDirectory && f.getName.startsWith("batch=") &&
          f.getName.stripPrefix("batch=").toLong <= v => f.getPath }
        .sorted.toSeq
    }

  /** Ingest one micro-batch of orders rows. Safe to replay with the same
    * batchId. */
  def applyBatch(spark: SparkSession, dir: String, orders: DataFrame,
      batchId: Long, checkpoint: Option[String] = None): Unit =
    CommitFiles.commitBatch(dir, "stream_lake", batchId, checkpoint) {
      val laid = ZLayout.ordersProjection(orders).persist()
      try {
        if (!laid.isEmpty)
          writeLaid(laid, s"$dir/batch=$batchId", s"$dir/_manifest/batch=$batchId")
        // empty batch: no dirs, but the pointer still advances — otherwise
        // the batch replays in full on every restart
        true
      } finally laid.unpersist()
    }

  /** One batch's fid layout at `data` (one hash exchange on fid, zkey
    * order inside each fid) and its manifest rows at `manifest`. */
  private def writeLaid(laid: DataFrame, data: String, manifest: String): Unit = {
    laid.repartition(col("fid"))
      .sortWithinPartitions(col("fid"), col("zkey"))
      .write.mode("overwrite").partitionBy("fid")
      .parquet(data)
    laid.groupBy(col("fid"))
      .agg(count(lit(1)).as("n"),
        min(col("ck")).as("ck_min"), max(col("ck")).as("ck_max"),
        min(col("dy")).as("dy_min"), max(col("dy")).as("dy_max"))
      .coalesce(1)
      .write.mode("overwrite").parquet(manifest)
  }

  private val manifestSchema = StructType(Seq(
    StructField("fid", LongType), StructField("n", LongType),
    StructField("ck_min", LongType), StructField("ck_max", LongType),
    StructField("dy_min", LongType), StructField("dy_max", LongType),
    StructField("batch", LongType)))

  /** Every committed row's schema: the [[ZLayout.ordersProjection]]
    * columns plus the `batch` partition column. */
  private[graft] val scanSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("ck", LongType), StructField("dy", LongType),
    StructField("zkey", LongType), StructField("fid", LongType),
    StructField("batch", LongType)))

  private def emptyOf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Committed manifest rows, one per (batch, fid). Empty-but-committed
    * layouts (every batch was empty) read as an empty relation. */
  def manifest(spark: SparkSession, dir: String): DataFrame = {
    assertNoCompactDebris(dir)
    val dirs = committedDirs(dir, s"$dir/_manifest")
    if (dirs.isEmpty) emptyOf(spark, manifestSchema)
    else spark.read.option("basePath", s"$dir/_manifest").parquet(dirs: _*)
  }

  /** Every committed row (all batches), with batch/fid partition cols. */
  def scanAll(spark: SparkSession, dir: String): DataFrame = {
    assertNoCompactDebris(dir)
    require(latestVersion(dir).isDefined,
      s"stream_lake: nothing committed under $dir")
    val dirs = committedDirs(dir, dir)
    if (dirs.isEmpty) emptyOf(spark, scanSchema) // every batch was empty
    else spark.read.option("basePath", dir).parquet(dirs: _*)
  }

  /** Manifest-pruned scan at (batch, fid) granularity + the exact row
    * filter — same contract as [[ZLayout.prunedOrders]], same two-mode
    * overlap planning ([[ZLayout.LocalPlanBytesKey]]): a metadata-scale
    * manifest collects once and filters on the driver; past the byte
    * threshold the filter runs as a Spark job and only the surviving
    * (batch, fid) pairs reach the driver. `StreamLakeSpec` pins mode
    * equality. */
  def prunedOrders(spark: SparkSession, dir: String,
      ckLo: Long, ckHi: Long, dyLo: Long, dyHi: Long): DataFrame = {
    // batch is a DISCOVERED partition column (int-inferred from the
    // dir names); cast both keys so either mode's collect is type-stable
    val sel: Seq[(Long, Long)] =
      OverlapPlan.survivors(spark, manifest(spark, dir),
          OverlapPlan.bytesOf(Paths.get(s"$dir/_manifest")),
          Seq(col("batch").cast("long"), col("fid").cast("long")),
          Seq(("ck", ckLo, ckHi), ("dy", dyLo, dyHi)))
        .map(r => (r.getLong(0), r.getLong(1))).sorted
    val scan =
      if (sel.isEmpty) scanAll(spark, dir).limit(0)
      else spark.read.option("basePath", dir)
        .parquet(sel.map { case (b, f) => s"$dir/batch=$b/fid=$f" }: _*)
    scan.filter(col("ck").between(ckLo, ckHi) &&
      col("dy").between(dyLo, dyHi))
  }

  private def stagingRoot(dir: String) = s"$dir/.compact_staging"
  private def retiringRoot(dir: String) = s"$dir/.compact_retiring"

  /** Refuse to read a table a crashed [[compact]] left mid-swap. Without
    * this guard the read paths treat missing batch dirs as the legal
    * all-empty-batches state, so e.g. the retire-done/staging-full crash
    * state reads as a committed table with ZERO rows — silently wrong and
    * indistinguishable from genuinely empty batches. [[healCompact]] only
    * runs at the start of the NEXT compact; bounding the crash window by
    * the next READ instead makes the state loud immediately. Reads don't
    * mutate: the remedy is the (stream-stopped-safe) heal, named in the
    * error. */
  private[graft] def assertNoCompactDebris(dir: String): Unit = {
    val staging = Files.exists(Paths.get(stagingRoot(dir)))
    val retiring = Files.exists(Paths.get(retiringRoot(dir)))
    if (staging || retiring) {
      val what = Seq(
        if (staging) Some(".compact_staging") else None,
        if (retiring) Some(".compact_retiring") else None).flatten.mkString(" + ")
      throw new IllegalStateException(
        s"stream_lake: $dir holds leftover compaction state ($what) from " +
          "a crashed compact — reading now could silently return a " +
          "partial or empty table; run StreamLake.healCompact(dir) " +
          "(safe whenever the ingest stream is stopped) and retry")
    }
  }

  /** Heal the on-disk state a crashed [[compact]] can leave. The decisive
    * evidence is the staging DATA payload (directory renames are atomic,
    * so each payload is wholly in staging or wholly at its destination):
    *
    *   - staging still holds `batch=…` data → the swap never moved data
    *     in → roll BACK: restore every retired dir, drop staging;
    *   - staging exists without data (crash between the two swap moves
    *     or before cleanup) → the live data IS the compacted copy → roll
    *     FORWARD: move a still-staged manifest payload in, install the
    *     staged `_compacted` floor, drop the retired originals (restoring
    *     them here would DUPLICATE every pre-compaction row);
    *   - staging gone, retiring present → cleanup crashed → drop it.
    *
    * Run at the start of every compact; safe whenever the stream is
    * stopped; nothing is sticky. */
  def healCompact(dir: String): Unit = {
    val staging = new java.io.File(stagingRoot(dir))
    val retiring = new java.io.File(retiringRoot(dir))
    def children(f: java.io.File) =
      Option(f.listFiles()).getOrElse(Array.empty)
    if (staging.exists()) {
      val staged = children(staging)
      if (staged.exists(f => f.getName.startsWith("batch="))) {
        // roll back: no data payload ever reached the live table
        children(retiring).foreach { f =>
          val back = Paths.get(
            if (f.getName.startsWith("m_"))
              s"$dir/_manifest/${f.getName.stripPrefix("m_")}"
            else s"$dir/${f.getName}")
          if (!Files.exists(back)) Files.move(f.toPath, back)
          else CommitFiles.rmTree(f) // defensive: duplicate leftover
        }
      } else {
        // roll forward: finish the manifest move if it is still staged
        staged.filter(_.getName.startsWith("m_batch=")).foreach { f =>
          Files.createDirectories(Paths.get(s"$dir/_manifest"))
          val dest = Paths.get(
            s"$dir/_manifest/${f.getName.stripPrefix("m_")}")
          if (!Files.exists(dest)) Files.move(f.toPath, dest)
        }
        // ... and the compaction floor: the live data IS the folded copy,
        // so the floor MUST land — without it a LakeSource checkpoint
        // positioned inside the folded region would silently re-read
        // (duplicate) every already-consumed row on resume
        staged.filter(_.getName == "_compacted").foreach { f =>
          Files.move(f.toPath, Paths.get(dir, "_compacted"),
            StandardCopyOption.REPLACE_EXISTING)
        }
      }
      CommitFiles.rmTree(staging)
    }
    if (retiring.exists()) CommitFiles.rmTree(retiring)
  }

  /** Fold every committed batch into ONE `batch=<latest>` dir (and one
    * manifest dir) — the maintenance step that caps the (batch, fid)
    * file count the append-only layout accrues. Run with the stream
    * stopped (the IvfIndex.compact contract): a concurrent commit is
    * detected by a pointer re-check and aborts loudly before the swap; a
    * crash anywhere leaves a state [[healCompact]] repairs (staged copy
    * first, originals retired by rename, staging moved in, retired
    * dropped — staging-present ⇒ rollback, staging-absent ⇒
    * roll-forward). Readers between the renames can see a partial
    * table — the same documented maintenance window as
    * `CommitFiles.stagedCompaction`'s swap. */
  def compact(spark: SparkSession, dir: String): Unit = {
    healCompact(dir)
    val v = latestVersion(dir).getOrElse(throw new IllegalStateException(
      s"stream_lake: nothing committed under $dir — nothing to compact"))
    val all = scanAll(spark, dir).drop("batch")
      .withColumn("fid", col("fid").cast("long"))
    val staging = stagingRoot(dir)
    writeLaid(all, s"$staging/batch=$v", s"$staging/m_batch=$v")
    // the compaction floor is STAGED with the payload, not written after
    // the swap: once the destructive swap begins, every crash state that
    // keeps the folded data (roll-forward) also carries the floor in
    // staging for healCompact to move in — a fold can never become live
    // without its floor, which is what keeps a LakeSource checkpoint in
    // (0, v] loud instead of silently re-reading folded rows. A rolled
    // BACK crash drops staging wholesale, floor included.
    CommitFiles.atomicWrite(Paths.get(staging, "_compacted"), v.toString)
    if (!latestVersion(dir).contains(v)) {
      CommitFiles.rmTree(new java.io.File(staging))
      throw new IllegalStateException(
        "stream_lake: a batch committed while compacting (stream still " +
          "running?) — aborted without swapping; stop the query first")
    }
    val retiring = retiringRoot(dir)
    Files.createDirectories(Paths.get(retiring))
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .foreach(f => Files.move(f.toPath, Paths.get(retiring, f.getName)))
    Option(new java.io.File(s"$dir/_manifest").listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .foreach(f => Files.move(f.toPath, Paths.get(retiring, s"m_${f.getName}")))
    Files.move(Paths.get(s"$staging/batch=$v"), Paths.get(s"$dir/batch=$v"))
    Files.createDirectories(Paths.get(s"$dir/_manifest"))
    Files.move(Paths.get(s"$staging/m_batch=$v"),
      Paths.get(s"$dir/_manifest/batch=$v"))
    // the staged floor lands BEFORE staging is dropped — see the staging
    // note above; a crash before this move leaves the floor in staging
    // where healCompact's roll-forward installs it
    Files.move(Paths.get(s"$staging/_compacted"), Paths.get(dir, "_compacted"),
      StandardCopyOption.REPLACE_EXISTING)
    CommitFiles.rmTree(new java.io.File(staging))
    CommitFiles.rmTree(new java.io.File(retiring))
  }

  /** The streaming query: an orders stream → a continuously grown
    * pruned-scannable layout at `dir`. */
  def start(orders: DataFrame, dir: String, checkpoint: String): StreamingQuery =
    orders.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        applyBatch(batch.sparkSession, dir, batch, id, Some(checkpoint))
      }
      .start()
}

/** Deterministic 3-batch streamed ingest of orders (the SnapshotFixture
  * date cutoffs as batch boundaries), for the oracle-graded registry
  * query: a green row proves the streaming ingest + manifest + pruning
  * chain end-to-end against raw orders. */
object StreamLakeFixture extends graft.core.DerivedFixture("lake_stream", "orders") {
  private[lake] def ingest3(s: SparkSession, dir: String, target: String): Unit = {
    val orders = graft.core.Tables.orders(s, dir)
    def ts(c: String) = lit(c).cast("timestamp")
    StreamLake.applyBatch(s, target,
      orders.filter(col("o_orderdate") < ts(SnapshotFixture.Cut0)), 0L)
    StreamLake.applyBatch(s, target,
      orders.filter(col("o_orderdate") >= ts(SnapshotFixture.Cut0) &&
        col("o_orderdate") < ts(SnapshotFixture.Cut1)), 1L)
    StreamLake.applyBatch(s, target,
      orders.filter(col("o_orderdate") >= ts(SnapshotFixture.Cut1)), 2L)
  }
  override protected def build(s: SparkSession, dir: String, target: String): Unit =
    ingest3(s, dir, target)
}

/** The same 3-batch ingest followed by [[StreamLake.compact]] — the
  * compacted layout the `lake_compact_read` registry row grades against
  * raw orders. */
object CompactedLakeFixture extends graft.core.DerivedFixture("lake_compacted", "orders") {
  override protected def build(s: SparkSession, dir: String, target: String): Unit = {
    StreamLakeFixture.ingest3(s, dir, target)
    StreamLake.compact(s, target)
  }
}
