package graft.streaming

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.LongType

import graft.llm.{PostingsIndex, TextStats}

/** Streaming inverted-index maintenance: a document stream continuously
  * grows a BM25 postings index via `foreachBatch` — the
  * continuously-maintained twin of [[graft.llm.PostingsIndex]], the way
  * [[StreamMerge]] twins the batch merge and [[StreamCurate]] twins the
  * curation verdict.
  *
  * Layout (the [[StreamCurate]] delta pattern): each micro-batch
  * OVERWRITES its own delta partitions —
  * `postings/batch=<id>/tb=<bucket>/` (term-hash-bucketed inside the
  * batch partition, so searches prune on `tb` across every delta) and
  * `doclen/batch=<id>/` — committed by the [[CommitFiles.commitBatch]]
  * protocol; an idle trigger flips nothing. Corpus stats (n_docs, avgdl)
  * and per-term df are NEVER stored — every search derives them from the
  * committed postings/doclen union, so no append can leave them stale
  * (the [[PostingsIndex]] rule).
  *
  * [[compact]] folds committed deltas into one `batch=<committed>`
  * partition per table (preserving the `tb` grid) so years of triggers
  * cannot degrade the posting-list seek into millions of tiny reads, by
  * the [[CommitFiles.stagedCompaction]] protocol.
  *
  * Scale notes: per batch the work is one `termFreqs` aggregation over
  * the BATCH (not the corpus) plus a doc_id membership probe against the
  * committed doclen (one row per doc, left-anti shape); search cost is
  * the static index's plus a `batch <= committed` partition filter.
  */
object StreamIndex {

  /** Buckets are frozen for the index's life — the partition grid
    * encodes them (the [[graft.llm.PostingsIndex.build]] contract). */
  val NBuckets = 64

  /** Highest committed batch, if any. */
  def latestVersion(dir: String): Option[Long] = CommitFiles.committed(dir)

  /** The committed postings relation (doc_id, wh, c, tb). */
  def committedPostings(spark: SparkSession, dir: String): Option[DataFrame] =
    latestVersion(dir).map { v =>
      spark.read.parquet(s"$dir/postings")
        .filter(col("batch") <= v)
        .select(col("doc_id"), col("wh"), col("c"), col("tb"))
    }

  private def committedDoclen(spark: SparkSession, dir: String): Option[DataFrame] =
    latestVersion(dir).map { v =>
      spark.read.parquet(s"$dir/doclen")
        .filter(col("batch") <= v).select(col("doc_id"), col("dl"))
    }

  /** Ingest one micro-batch of documents. Safe to replay with the same
    * batchId. Re-ingesting an already-committed doc_id fails loudly —
    * it would silently double that doc's postings (the
    * [[graft.llm.PostingsIndex.append]] contract). */
  def applyBatch(spark: SparkSession, dir: String, docs: DataFrame,
      batchId: Long, checkpoint: Option[String] = None): Unit =
    CommitFiles.commitBatch(dir, "stream_index", batchId, checkpoint) {
      docs.persist()
      try if (docs.isEmpty) false // idle trigger: nothing to publish
      else {
        committedDoclen(spark, dir).foreach { dl =>
          val clash = dl.join(docs.select(col("doc_id")), Seq("doc_id"),
            "left_semi").limit(1).collect()
          if (clash.nonEmpty) throw new IllegalStateException(
            s"stream_index: doc_id ${clash.head.get(0)} is already indexed — " +
              "a re-ingested doc would double its postings; feed fresh " +
              "doc_ids (or route updates through a delete-and-reingest " +
              "compaction)")
        }
        val tf = TextStats.termFreqs(docs)
        tf.select(col("doc_id"), col("wh"), col("c"),
            PostingsIndex.bucket(NBuckets))
          .write.mode("overwrite").partitionBy("tb")
          .parquet(s"$dir/postings/batch=$batchId")
        tf.groupBy(col("doc_id"))
          .agg(sum(col("c")).cast(LongType).as("dl"))
          .write.mode("overwrite").parquet(s"$dir/doclen/batch=$batchId")
        true
      } finally docs.unpersist()
    }

  /** Top-k BM25 over the live (committed) index for the fixture probe
    * rule — equal to `PostingsIndex.build` + `search` on the same
    * accumulated corpus (spec-asserted). Stats and df derive from the
    * committed union at call time. */
  def searchLive(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val post = committedPostings(spark, dir).getOrElse(
      throw new IllegalStateException(
        s"stream_index: no committed batch under $dir"))
    val dl = committedDoclen(spark, dir).get
    val st = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast(LongType).cast(org.apache.spark.sql.types.DoubleType) /
        count(lit(1)).cast(org.apache.spark.sql.types.DoubleType)).as("avgdl"))
      .collect()(0)
    import spark.implicits._
    val qterms = PostingsIndex.queryTermsFrom(spark,
      post.select(col("doc_id"), col("wh"), col("c")), st.getAs[Long]("n_docs"))
    // prune the committed union to the query terms' buckets before
    // scoring — the same INSET partition filter as the static search
    val wanted = qterms.select(PostingsIndex.bucket(NBuckets)).distinct()
      .collect().map(_.getInt(0)).toSeq
    PostingsIndex.searchFrom(
      post.where(col("tb").isin(wanted: _*))
        .select(col("doc_id"), col("wh"), col("c")),
      dl, Seq(st.getAs[Double]("avgdl")).toDF("avgdl"), qterms, k)
  }

  /** Fold every committed delta into ONE `batch=<committed>` partition
    * per table, preserving the `tb` grid. Run with the stream stopped —
    * a concurrent writer aborts the compact loudly; every crash state
    * self-heals on the next run ([[CommitFiles.stagedCompaction]]).
    * Deltas beyond the pointer (a batch that crashed before its flip)
    * are dropped — the restart recomputes and rewrites them in full. */
  def compact(spark: SparkSession, dir: String): Unit =
    latestVersion(dir).foreach { v =>
      Seq("postings" -> Seq("tb"), "doclen" -> Seq.empty[String]).foreach {
        case (sub, parts) =>
          val live = Paths.get(dir, sub)
          CommitFiles.stagedCompaction(live, "stream_index",
              "stream still running?", "stop the query first") { staging =>
            val folded = spark.read.parquet(live.toString)
              .filter(col("batch") <= v).drop("batch")
            // postings: all rows of one tb land in one task → exactly one
            // file per bucket (the PostingsIndex.compact shape); doclen is
            // bulk-scanned, never seeked — natural partitioning is fine
            val writer = if (parts.isEmpty) folded.write
              else folded.repartition(parts.map(col): _*).write.partitionBy(parts: _*)
            writer.mode("overwrite").parquet(s"$staging/batch=$v")
          }
      }
    }

  /** The streaming query: a document stream → a continuously grown
    * postings index under `dir`. */
  def start(docs: DataFrame, dir: String, checkpoint: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        applyBatch(batch.sparkSession, dir, batch, id, Some(checkpoint))
      }
      .start()
}
