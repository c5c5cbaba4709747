package graft.streaming

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.llm.{Ann, IvfIndex}

/** Streaming vector-index maintenance: an embedding stream continuously
  * grows an IVF index via `foreachBatch` — the continuously-maintained
  * twin of [[graft.llm.IvfIndex]], the way [[StreamIndex]] twins the
  * batch postings index. A real RAG pipeline ingests embeddings
  * continuously; the batch `IvfIndex.append` path covers scheduled
  * ingest slices, this covers the stream.
  *
  * Layout — a VERSIONED MODEL under one pointer, not sibling
  * directories: `model=<m>/centroids/` and
  * `model=<m>/assign/batch=<id>/ck=<cell>/`, with `_model` naming the
  * live version and `_latest` the highest committed batch. Retraining
  * must replace centroids AND every row's cell assignment together (an
  * assignment is meaningless against the wrong centroids); writing the
  * new model in full under `model=<m+1>` and flipping `_model`
  * atomically leaves no window where a reader can see them mixed — a
  * manifest-pointer swap instead of `CommitFiles.stagedCompaction`'s
  * two-rename one, adopted here outright because a fresh layout could.
  * A crash mid-retrain leaves an unreferenced version
  * directory the next [[retrain]] deletes ([[healModels]]); nothing is
  * sticky.
  *
  * Exactly-once by the [[CommitFiles.commitBatch]] protocol: each
  * micro-batch OVERWRITES its own `assign/batch=<id>` partitions inside
  * the live model, then flips `_latest`; an idle trigger flips nothing.
  * Re-ingesting a committed vec_id fails loudly — it would silently
  * double that vector's posting.
  *
  * [[retrain]] is this index's compact step: with the stream stopped,
  * re-run the deterministic Lloyd build over the accumulated corpus,
  * fold every committed delta into one `batch=<committed>` partition
  * under the NEW centroids, and flip `_model` — after it, searching the
  * live index is bit-equal to a fresh `IvfIndex.build` + `search` on
  * the same corpus (`StreamIvfSpec` asserts it), because both run the
  * same deterministic k-means and the same argmax rule.
  *
  * Scale notes: per batch the work is one nearest-centroid assignment
  * of the BATCH against the broadcast k×dim centroid table (narrow, no
  * shuffle beyond the cell-partitioned write) plus a vec_id membership
  * probe against the committed assignment (left-semi limit 1). Search
  * cost is the static index's: probe cells collected as literals so the
  * assignment scan prunes `ck=` partitions on disk across every delta.
  * The index stores only ids — vectors are re-joined from the corpus,
  * the [[graft.llm.IvfIndex]] rule. */
object StreamIvf {

  private def modelPath(dir: String) = Paths.get(dir, "_model")

  /** Highest committed batch, if any. */
  def latestVersion(dir: String): Option[Long] = CommitFiles.committed(dir)

  /** Live model version; None before [[init]]. */
  def modelVersion(dir: String): Option[Long] =
    CommitFiles.readPointer(modelPath(dir))

  private def modelDir(dir: String, m: Long) = s"$dir/model=$m"

  private def requireModel(dir: String): Long =
    modelVersion(dir).getOrElse(throw new IllegalStateException(
      s"stream_ivf: no model under $dir — run init (or retrain) before " +
        "streaming; frozen centroids must exist for batches to assign against"))

  /** Train the frozen coarse quantizer on a bootstrap corpus and commit
    * it as model 0 with an EMPTY assignment — every vector enters
    * through the stream. Refuses to overwrite an existing index. */
  def init(s: SparkSession, d: String, dir: String, k: Int = 8,
      iters: Int = 2): Unit = {
    require(modelVersion(dir).isEmpty,
      s"stream_ivf: $dir already holds model ${modelVersion(dir).get} — " +
        "retrain grows it; init only bootstraps an empty index")
    val (_, cdf) = Ann.ivfModel(s, d, k, iters)
    cdf.write.mode("overwrite").parquet(s"${modelDir(dir, 0L)}/centroids")
    CommitFiles.atomicWrite(modelPath(dir), "0")
  }

  /** The committed assignment relation (vec_id, ck), if any batch has
    * committed. A committed pointer with NO assign dir is a legal state
    * (every committed batch was all-zero-norm and assigned nothing), so
    * it reads as an empty relation, not a missing-path error. */
  def committedAssign(spark: SparkSession, dir: String): Option[DataFrame] =
    latestVersion(dir).map { v =>
      val p = s"${modelDir(dir, requireModel(dir))}/assign"
      if (!new java.io.File(p).exists())
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("vec_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("ck",
              org.apache.spark.sql.types.IntegerType))))
      else
        spark.read.parquet(p)
          .filter(col("batch") <= v)
          .select(col("vec_id"), col("ck"))
    }

  /** Ingest one micro-batch of embedding rows (vec_id, embedding,
    * label). Safe to replay with the same batchId. */
  def applyBatch(spark: SparkSession, dir: String, vecs: DataFrame,
      batchId: Long, checkpoint: Option[String] = None): Unit =
    CommitFiles.commitBatch(dir, "stream_ivf", batchId, checkpoint) {
      val m = requireModel(dir)
      vecs.persist()
      try if (vecs.isEmpty) false // idle trigger: nothing to publish
      else {
        committedAssign(spark, dir).foreach { a =>
          val clash = a.join(vecs.select(col("vec_id")), Seq("vec_id"),
            "left_semi").limit(1).collect()
          if (clash.nonEmpty) throw new IllegalStateException(
            s"stream_ivf: vec_id ${clash.head.get(0)} is already indexed — " +
              "a re-ingested vector would double its posting; feed fresh " +
              "vec_ids (or retrain from a deduplicated corpus)")
        }
        val cdf = spark.read.parquet(s"${modelDir(dir, m)}/centroids")
        val assigned = Ann.assignCells(Ann.normedOf(vecs), cdf)
        // a batch of only zero-norm vectors assigns nothing: writing an
        // empty partition set would leave a schema-less batch dir, so the
        // WRITE is skipped — but the pointer still flips, otherwise this
        // batch replays in full (persist, clash check, assignment) on
        // every restart until some later batch commits (committedAssign
        // tolerates the resulting batch-dir gap: it reads what exists)
        if (!assigned.isEmpty) {
          assigned
            .write.mode("overwrite").partitionBy("ck")
            .parquet(s"${modelDir(dir, m)}/assign/batch=$batchId")
        }
        true
      } finally vecs.unpersist()
    }

  /** Top-5 neighbors for probes 0..4 over the live committed index —
    * the static [[graft.llm.IvfIndex.search]] core over this layout's
    * committed relation, so tie-breaks and rounding cannot drift. `d`
    * must cover every corpus slice streamed in (ids re-join vectors). */
  def searchLive(spark: SparkSession, d: String, dir: String,
      nprobe: Int = 1): DataFrame = {
    val assign = committedAssign(spark, dir).getOrElse(
      throw new IllegalStateException(
        s"stream_ivf: no committed batch under $dir"))
    val cdf = spark.read.parquet(
      s"${modelDir(dir, requireModel(dir))}/centroids")
    IvfIndex.searchFrom(spark, d, cdf, assign, nprobe)
  }

  /** Delete every unreferenced `model=` directory — the leftovers of a
    * retrain that crashed before its pointer flip. Run by [[retrain]];
    * idempotent. */
  private def healModels(dir: String): Unit = {
    val live = modelVersion(dir)
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("model="))
      .filter(f => !live.map(m => s"model=$m").contains(f.getName))
      .foreach(CommitFiles.rmTree)
  }

  /** Centroid drift of corpus `d` vs the live model — the retrain
    * trigger. Unlike the batch index there is no stored build-time
    * yardstick: the caller compares against the quality it measured
    * after the last [[retrain]]. */
  def quality(s: SparkSession, d: String, dir: String): Double =
    IvfIndex.quality(Ann.normedOf(graft.core.Tables.embeddings(s, d)), s.read.parquet(
      s"${modelDir(dir, requireModel(dir))}/centroids"))

  /** The compact-and-retrain step, run with the stream stopped: re-run
    * the deterministic Lloyd build over corpus `d` (which must cover
    * every committed slice), fold the committed ids' NEW assignments
    * into one `batch=<committed>` partition (one file per cell) under
    * `model=<m+1>`, and flip `_model` atomically. A concurrent append
    * is detected by a `_latest` re-check and aborts loudly without the
    * flip; a crash anywhere leaves an unreferenced version directory
    * the next retrain deletes. */
  def retrain(s: SparkSession, d: String, dir: String, k: Int = 8,
      iters: Int = 2): Unit = {
    val m = requireModel(dir)
    healModels(dir)
    val v = latestVersion(dir).getOrElse(throw new IllegalStateException(
      s"stream_ivf: nothing committed under $dir — retrain folds " +
        "committed batches; before the first batch, init is the build step"))
    val committed = committedAssign(s, dir).get.select(col("vec_id"))
    val (lists, cdf) = Ann.ivfModel(s, d, k, iters)
    // the scaladoc contract ("d must cover every committed slice") is
    // CHECKED, not assumed: a committed vec_id absent from the corpus
    // would silently vanish from the live index through the semi join —
    // fail loudly naming the missing ids, like every other contract here
    val missing = committed
      .join(lists.select(col("vec_id")), Seq("vec_id"), "left_anti")
      .limit(5).collect().map(_.get(0))
    if (missing.nonEmpty) throw new IllegalStateException(
      s"stream_ivf: committed vec_ids [${missing.mkString(", ")}${
        if (missing.length == 5) ", ..." else ""}] are absent from the " +
        "retrain corpus — folding would silently drop them from the live " +
        "index; retrain over a corpus covering every committed slice")
    val next = modelDir(dir, m + 1)
    cdf.write.mode("overwrite").parquet(s"$next/centroids")
    lists.select(col("vec_id"), col("ck"))
      .join(committed, Seq("vec_id"), "left_semi")
      // all rows of one ck in one task → exactly one file per cell
      .repartition(col("ck"))
      .write.mode("overwrite").partitionBy("ck")
      .parquet(s"$next/assign/batch=$v")
    if (!latestVersion(dir).contains(v)) {
      CommitFiles.rmTree(new java.io.File(next))
      throw new IllegalStateException(
        "stream_ivf: a batch committed while retraining (stream still " +
          "running?) — aborted without flipping; stop the query first")
    }
    CommitFiles.atomicWrite(modelPath(dir), (m + 1).toString)
    healModels(dir)
  }

  /** The streaming query: an embedding stream → a continuously grown
    * IVF index under `dir` (frozen centroids from [[init]]). */
  def start(vecs: DataFrame, dir: String, checkpoint: String): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        applyBatch(batch.sparkSession, dir, batch, id, Some(checkpoint))
      }
      .start()
}
