package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, max, struct}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Merge

/** Streaming CDC apply: fold a stream of change rows (op ∈ U/I/D) into a
  * parquet table via `foreachBatch` + the batch [[Merge.applyChanges]]
  * core — the continuously-maintained twin of the oracle-graded
  * `q47_merge_upsert`.
  *
  * Exactly-once without a transactional table format: each micro-batch
  * writes a FULL new snapshot under `dir/v=<batchId>`, committed by the
  * [[CommitFiles.commitBatch]] protocol (lineage brand, replay
  * short-circuit, `_latest` pointer flip). An idle trigger flips
  * nothing: the pointer would name a `v=` dir that was never written.
  *
  * Batches with several changes for one key need `seqCol` (the CDC
  * sequence/LSN column): the merge keeps the highest-sequence change per
  * key, so U-then-D deletes and I-then-U lands the update. Without a
  * sequence column a multi-change batch is ambiguous, and applyBatch
  * fails loudly instead of committing a table with duplicate keys.
  *
  * Scale notes: the merge itself is the broadcast-anti shape (base never
  * shuffles when the per-batch change set is small — the CDC regime); the
  * full-snapshot rewrite is the honest cost of exactly-once on plain
  * parquet — at real scale the same foreachBatch body would target a
  * format with row-level commits. Snapshots older than the previous
  * version are deleted after each flip, so disk holds ≤ 2 table copies.
  */
object StreamMerge {

  /** Current table version, if any batch has committed. */
  def latestVersion(dir: String): Option[Long] = CommitFiles.committed(dir)

  /** The committed table as of the last flipped pointer. */
  def currentTable(spark: SparkSession, dir: String): Option[DataFrame] =
    latestVersion(dir).map(v => spark.read.parquet(s"$dir/v=$v"))

  /** Reduce a batch to one change per key: highest `seqCol` wins (struct
    * arg-max — one aggregation, no window sort). Without a sequence
    * column, assert the batch is already single-change-per-key. */
  private[streaming] def lastWins(changes: DataFrame, key: String,
      seqCol: Option[String]): DataFrame = seqCol match {
    case Some(sq) =>
      // two changes for one key at the SAME sequence are exactly as
      // ambiguous as no sequence at all — the struct arg-max would
      // tie-break on payload bytes and could silently drop a delete
      val tie = changes.groupBy(col(key), col(sq))
        .agg(count(lit(1)).as("n")).filter(col("n") > 1).limit(1).collect()
      if (tie.nonEmpty) throw new IllegalStateException(
        s"stream_merge: key ${tie.head.get(0)} carries ${tie.head.getLong(2)} " +
          s"changes at the same $sq=${tie.head.get(1)} — the fold order is " +
          "ambiguous; the CDC sequence must be unique per key within a batch")
      val others = changes.columns.filter(c => c != key).toSeq
      val packed: Column = struct((col(sq) +: others.filterNot(_ == sq)
        .map(col)): _*)
      changes.groupBy(col(key)).agg(max(packed).as("w"))
        .select(col(key) +: others.map(c => col(s"w.$c").as(c)): _*)
    case None =>
      val dup = changes.groupBy(col(key)).agg(count(lit(1)).as("n"))
        .filter(col("n") > 1).limit(1).collect()
      if (dup.nonEmpty) throw new IllegalStateException(
        s"stream_merge: batch carries ${dup.head.getLong(1)} changes for " +
          s"key ${dup.head.get(0)} and no seqCol was given — the fold " +
          "order is ambiguous; pass the CDC sequence column")
      changes
  }

  /** One micro-batch: merge `changes` into the committed snapshot and
    * flip the pointer. Safe to replay with the same batchId. */
  def applyBatch(spark: SparkSession, dir: String, changes: DataFrame,
      key: String, batchId: Long, seqCol: Option[String] = None,
      checkpoint: Option[String] = None): Unit = {
    val prev = latestVersion(dir)
    val flipped = CommitFiles.commitBatch(dir, "stream_merge", batchId,
        checkpoint) {
      // one materialization for the 3-4 passes below (emptiness probe,
      // ambiguity checks, touched-keys distinct, the upsert union)
      changes.persist()
      try if (changes.isEmpty) false // idle trigger: no snapshot churn
      else {
        val base = currentTable(spark, dir)
          .getOrElse(changes.drop("op").drop(seqCol.toSeq: _*).limit(0))
        // lastWins already guarantees one change per key → preFolded skips
        // the merge's duplicate-key pass (a second full scan of changes)
        Merge.applyChanges(base,
            lastWins(changes, key, seqCol).drop(seqCol.toSeq: _*),
            key, preFolded = true)
          .drop("src")
          .write.mode("overwrite").parquet(s"$dir/v=$batchId")
        true
      } finally changes.unpersist()
    }
    // retention: the previous snapshot stays (one-commit reader grace +
    // the only version a crash-before-flip replay can read); everything
    // older is unreachable and deleted — disk holds ≤ 2 table copies.
    // Readers must re-resolve currentTable per query: a DataFrame held
    // across commits points at a path the NEXT commit may delete.
    if (flipped) {
      val keep = Set(Some(batchId), prev).flatten.map(v => s"v=$v")
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("v=") && !keep(f.getName))
        .foreach(CommitFiles.rmTree)
    }
  }

  /** The streaming query: a change stream with an `op` column → a
    * continuously merged parquet table at `dir`. Pass `seqCol` whenever
    * the source can emit several changes for one key per batch. */
  def start(changes: DataFrame, key: String, dir: String,
      checkpoint: String, seqCol: Option[String] = None): StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        applyBatch(batch.sparkSession, dir, batch, key, id, seqCol,
          Some(checkpoint))
      }
      .start()

  /** Convenience for specs: committed rows keyed for comparison. */
  def snapshot(spark: SparkSession, dir: String, key: String): Map[Long, Seq[Any]] =
    currentTable(spark, dir) match {
      case None => Map.empty
      case Some(df) =>
        df.collect().map { r =>
          r.getLong(r.fieldIndex(key)) -> r.toSeq
        }.toMap
    }
}
