package graft.llm

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Persisted IVF index: the deterministic k-means model written once as
  * parquet artifacts and searched many times —
  *
  *  - `centroids/`: the k×dim centroid table (tiny; broadcast at query
  *    time),
  *  - `assign/`: vec_id → cell, PARTITIONED BY the cell id,
  *  - `stats/`: the build-time quantization quality (mean best-cosine),
  *    the yardstick the staleness metric compares against.
  *
  * Searching `nprobe` cells filters the assignment scan to those cell
  * values, so partition pruning performs the inverted-list seek: each
  * query reads ~nprobe/k of the assignment data, not all of it. That is
  * the point of IVF at 100 TB — the Lloyd build cost is paid once, while
  * the registry's inline `ann_ivf_topk` (kept for oracle grading)
  * re-derives the model per run. Vectors themselves are NOT copied into
  * the index: the search re-joins the source embedding table by vec_id,
  * so the index stays small and the corpus remains the single source of
  * truth.
  *
  * Lifecycle beyond the one-shot build: [[append]] folds a NEW corpus
  * slice into `assign/` against the frozen centroids (the incremental
  * ingest path — no Lloyd re-run), [[compact]] rewrites the accumulated
  * append deltas into one file per cell, and [[staleness]] measures how
  * far the current corpus has drifted from the centroids the index was
  * built on — the signal that it is time to pay for a fresh [[build]].
  * Everything is deterministic, which is what lets `IvfIndexSpec` assert
  * search-over-index ≡ the inline oracle-graded query and
  * search-over-the-grown-index ≡ brute force at nprobe=k.
  *
  * Storage contract (the repo-wide one): `build` leaves the normalized-
  * embeddings cache from the Lloyd loop resident, and `search` caches the
  * constant-size probe-cell table so it is computed once, not twice. Run
  * `graft.core.Release.storage(spark)` between calls when composing
  * outside a Bench/Verify loop — the same rule every registry query
  * documents. */
object IvfIndex {

  /** Mean best-cosine of `n`'s vectors against the centroid table — the
    * quantization quality. The cosine is [[Ann.centroidCosine]], the SAME
    * guarded expression the assignment argmax uses, so the yardstick can
    * never drift from the rule it grades. Decimal-summed so the mean is
    * order-independent (the staleness compare is exact, not noisy); the
    * mean is over vectors with a defined best (count of `best`, not of
    * rows — a vector whose every centroid is zero-norm must not deflate
    * it), and a corpus with NO defined best fails loudly rather than
    * writing a meaningless yardstick. */
  private[graft] def quality(n: DataFrame, cdf: DataFrame): Double = {
    val r = n.crossJoin(broadcast(cdf))
      .withColumn("c_cos", Ann.centroidCosine(col("emb"), col("nsq")))
      .groupBy(col("vec_id")).agg(max(col("c_cos")).as("best"))
      .agg((sum(col("best").cast(DecimalType(20, 10))).cast(DoubleType) /
        count(col("best"))).as("q"))
      .collect()(0)
    if (r.isNullAt(0)) throw new IllegalStateException(
      "ivf_index: quantization quality is undefined — the corpus has no " +
        "vector with a positive-norm embedding and a positive-norm centroid")
    r.getDouble(0)
  }

  /** Build and persist the model under `dir` (overwrites). */
  def build(s: SparkSession, d: String, dir: String, k: Int = 8,
      iters: Int = 2): Unit = {
    import s.implicits._
    val (lists, cdf) = Ann.ivfModel(s, d, k, iters)
    cdf.write.mode("overwrite").parquet(s"$dir/centroids")
    lists.select(col("vec_id"), col("ck"))
      .write.mode("overwrite").partitionBy("ck").parquet(s"$dir/assign")
    Seq(quality(Ann.normed(s, d), cdf)).toDF("built_quality")
      .write.mode("overwrite").parquet(s"$dir/stats")
  }

  /** Out-of-sample assignment: map the vectors of source `d` to the
    * PERSISTED centroids without re-running Lloyd — the incremental path
    * when new corpus lands after the index was built. Exactly the
    * build-time argmax rule ([[Ann.assignCells]]), so re-assigning the
    * original corpus reproduces the stored lists bit-for-bit
    * (`IvfIndexSpec` asserts it). */
  def assign(s: SparkSession, d: String, dir: String): DataFrame = {
    val cdf = s.read.parquet(s"$dir/centroids")
    Ann.assignCells(Ann.normed(s, d), cdf)
  }

  /** Grow the index: assign source `d`'s vectors against the frozen
    * centroids and append them to `assign/`. The caller owns vec_id
    * uniqueness across appended corpora (ids are the join key back to the
    * vectors at search time). Appends accumulate one file set per call
    * inside each cell partition — run [[compact]] periodically — and pull
    * the per-cell quality down as the new data drifts from the build-time
    * centroids: watch [[staleness]] and re-[[build]] past your budget. */
  def append(s: SparkSession, d: String, dir: String): Unit =
    assign(s, d, dir)
      .write.mode("append").partitionBy("ck").parquet(s"$dir/assign")

  /** Rewrite `assign/` so each cell partition holds ONE file again (an
    * append per ingest slice otherwise accumulates small files and the
    * inverted-list seek degrades into many tiny reads), by the
    * [[graft.streaming.CommitFiles.stagedCompaction]] protocol. Run it
    * in the ingest pauses: an [[append]] racing the swap makes compact
    * abort loudly rather than delete the appended rows, and a reader
    * between the swap's two renames can observe the directory missing.
    * An object-store deployment would swap a manifest pointer instead
    * and have neither window. */
  def compact(s: SparkSession, dir: String): Unit = {
    val live = Paths.get(dir, "assign")
    graft.streaming.CommitFiles.stagedCompaction(live, "ivf_index",
        "a concurrent append?", "re-run compact in an ingest pause") { staging =>
      s.read.parquet(live.toString).select(col("vec_id"), col("ck"))
        // all rows of one ck land in one task, so partitionBy writes
        // exactly one file per cell
        .repartition(col("ck"))
        .write.mode("overwrite").partitionBy("ck")
        .parquet(staging.toString)
    }
  }

  /** Centroid drift of corpus `d` (typically the original + appended
    * slices) vs the build-time yardstick: the relative drop in mean
    * best-cosine, floored at 0. 0 = the corpus quantizes exactly as well
    * as at build time; rising values mean the frozen centroids describe
    * the data worse and worse — re-[[build]] when it crosses your budget
    * (a few percent is a common trigger). */
  def staleness(s: SparkSession, d: String, dir: String): Double = {
    val built = s.read.parquet(s"$dir/stats")
      .collect()(0).getAs[Double]("built_quality")
    val cdf = s.read.parquet(s"$dir/centroids")
    val current = quality(Ann.normed(s, d), cdf)
    // built == 0 (a degenerate build-time corpus) has no meaningful
    // relative drop: any decline reads as fully stale, none as fresh —
    // never NaN/Infinity, which a `staleness > budget` monitor would
    // silently treat as "fresh" forever
    if (built == 0.0) { if (current < 0.0) 1.0 else 0.0 }
    else math.max(0.0, (built - current) / math.abs(built))
  }

  /** Top-5 neighbors for probes 0..4 against the persisted index — the
    * same probe set, tie-breaks, and rounding as `ann_ivf_topk`. `d` must
    * cover every corpus slice the index was built from or grown with
    * (the index stores only ids; vectors are re-joined from `d`). */
  def search(s: SparkSession, d: String, dir: String,
      nprobe: Int = 1): DataFrame =
    searchFrom(s, d, s.read.parquet(s"$dir/centroids"),
      s.read.parquet(s"$dir/assign"), nprobe)

  /** The search core over an explicit centroid table and (vec_id, ck)
    * assignment relation — shared with the continuously-maintained twin
    * ([[graft.streaming.StreamIvf]]) so the probe rule, tie-breaks, and
    * rounding cannot drift between the two lifecycles. */
  private[graft] def searchFrom(s: SparkSession, d: String, cdf: DataFrame,
      assignRows: DataFrame, nprobe: Int): DataFrame = {
    require(nprobe >= 1, s"search: need nprobe >= 1; got $nprobe")
    val n = Ann.normed(s, d)
    val probes = n.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("nsq").as("q_nsq"))
    // cached: the cell table is read twice (the literal collect below and
    // the rerank probe side) and the probes-scan + centroid cross-join +
    // window behind it should run once, not twice
    val cells = Ann.probeCells(probes, cdf, nprobe).cache()
    // constant-size collect (probes × nprobe cell ids): materializing the
    // wanted cells as literals is what lets the assignment scan prune
    // partitions on disk instead of reading every cell
    val wanted = cells.select("ck").distinct().collect().map(_.getInt(0)).toSeq
    val assign = assignRows.where(col("ck").isin(wanted: _*))
    Ann.rerank(n.join(assign, Seq("vec_id")), cells, "ck")
  }
}
