package graft.llm

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

import graft.core.{Tables => T}

/** Persisted inverted index for BM25 retrieval: the postings table
  * written once as parquet artifacts and searched many times — the
  * lexical twin of [[IvfIndex]] (reference behavior generalized from
  * scripts/spark_converter.py:24-30's write-once parquet sink).
  *
  *  - `postings/`: (doc_id, wh, c) PARTITIONED BY `tb = wh mod nBuckets`
  *    — the term-hash bucket. A query's terms map to a handful of
  *    buckets, so partition pruning performs the posting-list seek: each
  *    search reads ~|query-term buckets|/nBuckets of the postings data,
  *    never all of it. That is what makes BM25 pay at 100 TB — the
  *    inline `text_bm25` re-derives the postings from the corpus every
  *    run (measured cheaper at bench scale; the crossover is argued in
  *    SCALING.md's BM25 row).
  *  - `doclen/`: (doc_id, dl) — the per-doc length table the score's
  *    length normalization joins on.
  *  - `stats/`: (n_docs, avgdl, n_buckets) — the 1-row corpus statistics
  *    BROADCAST at query time; n_buckets is frozen at build time because
  *    the partition layout encodes it.
  *
  * The row derivation is [[TextStats.termFreqs]] and the scoring is
  * [[TextStats.bm25Score]] — the SAME definitions the oracle-graded
  * inline query runs, so `PostingsIndexSpec` can assert
  * search-over-index ≡ `text_bm25` exactly, not approximately.
  *
  * Lifecycle (the [[IvfIndex]] contract): [[append]] folds a new corpus
  * slice into `postings/`+`doclen/` and refreshes `stats/` (df and the
  * idf it feeds are NOT stored — they are derived per query from the
  * pruned posting lists, so an append can never leave a stale df table
  * behind); [[compact]] rewrites the accumulated append deltas to one
  * file per bucket; [[staleness]] reports the fraction of the current
  * corpus the index has not yet ingested — the re-build/append trigger.
  */
object PostingsIndex {

  private def statsDf(s: SparkSession, dl: DataFrame, nBuckets: Int): DataFrame =
    dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast(LongType).cast(DoubleType) /
        count(lit(1)).cast(DoubleType)).as("avgdl"))
      .withColumn("n_buckets", lit(nBuckets))

  private[graft] def bucket(nBuckets: Int) =
    pmod(col("wh"), lit(nBuckets.toLong)).cast(IntegerType).as("tb")

  /** Build and persist the index for corpus `d` under `dir` (overwrites).
    * `nBuckets` sizes the partition grid: more buckets → finer pruning
    * per query but more partition dirs; a real deployment picks it so a
    * bucket's posting rows fit a task (corpus vocab / nBuckets). */
  def build(s: SparkSession, d: String, dir: String, nBuckets: Int = 64): Unit = {
    val tf = TextStats.termFreqs(T.documents(s, d))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("c")).cast(LongType).as("dl"))
    tf.select(col("doc_id"), col("wh"), col("c"), bucket(nBuckets))
      .write.mode("overwrite").partitionBy("tb").parquet(s"$dir/postings")
    dl.write.mode("overwrite").parquet(s"$dir/doclen")
    statsDf(s, s.read.parquet(s"$dir/doclen"), nBuckets)
      .write.mode("overwrite").parquet(s"$dir/stats")
  }

  private def readStats(s: SparkSession, dir: String) = {
    val r = s.read.parquet(s"$dir/stats").collect()(0)
    (r.getAs[Long]("n_docs"), r.getAs[Double]("avgdl"), r.getAs[Int]("n_buckets"))
  }

  /** Grow the index with corpus slice `d` against the frozen bucket grid.
    * The caller owns doc_id uniqueness across appended slices (the
    * [[IvfIndex.append]] contract); appending an already-indexed doc
    * would double its postings and is detected loudly. Appends accumulate
    * one file set per call inside each bucket partition — run
    * [[compact]] in ingest pauses. `stats/` is refreshed from the
    * post-append doclen so idf/avgdl reflect the grown corpus
    * immediately.
    *
    * CRASH WINDOW, documented not hidden: the three writes (postings,
    * doclen, stats) are not atomic. A crash after the postings append
    * but before the doclen append leaves postings rows whose doc_ids the
    * clash probe (which reads doclen) cannot see — RETRYING the same
    * slice would then double those postings silently. Treat a crashed
    * append as poison: rebuild, or diff `postings/` doc_ids against
    * `doclen/` to find and drop the orphans. Ingest that must survive
    * crashes mid-append belongs on the streaming twin
    * ([[graft.streaming.StreamIndex]]), whose per-batch delta
    * partitions + commit pointer make replay exactly-once by
    * construction. */
  def append(s: SparkSession, d: String, dir: String): Unit = {
    val (_, _, nBuckets) = readStats(s, dir)
    val docs = T.documents(s, d)
    val clash = s.read.parquet(s"$dir/doclen")
      .join(docs.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .limit(1).collect()
    if (clash.nonEmpty) throw new IllegalStateException(
      s"postings_index: doc_id ${clash.head.get(0)} is already indexed — " +
        "appending it again would double its postings; slices must carry " +
        "fresh doc_ids (the caller-owned uniqueness contract)")
    val tf = TextStats.termFreqs(docs)
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("c")).cast(LongType).as("dl"))
    tf.select(col("doc_id"), col("wh"), col("c"), bucket(nBuckets))
      .write.mode("append").partitionBy("tb").parquet(s"$dir/postings")
    dl.write.mode("append").parquet(s"$dir/doclen")
    val refreshed = statsDf(s, s.read.parquet(s"$dir/doclen"), nBuckets).collect()(0)
    import s.implicits._
    Seq((refreshed.getAs[Long]("n_docs"), refreshed.getAs[Double]("avgdl"),
      refreshed.getAs[Int]("n_buckets")))
      .toDF("n_docs", "avgdl", "n_buckets")
      .write.mode("overwrite").parquet(s"$dir/stats")
  }

  /** Rewrite `postings/` so each bucket partition holds ONE file again —
    * the [[graft.streaming.CommitFiles.stagedCompaction]] protocol, with
    * the ingest-pause contract of [[IvfIndex.compact]].
    * `doclen/` is left as-is: it is only ever bulk-scanned into a join,
    * never seeked per-list, so small files cost it almost nothing. */
  def compact(s: SparkSession, dir: String): Unit = {
    val live = Paths.get(dir, "postings")
    graft.streaming.CommitFiles.stagedCompaction(live, "postings_index",
        "a concurrent append?", "re-run in an ingest pause") { staging =>
      s.read.parquet(live.toString)
        .select(col("doc_id"), col("wh"), col("c"), col("tb"))
        .repartition(col("tb"))
        .write.mode("overwrite").partitionBy("tb")
        .parquet(staging.toString)
    }
  }

  /** Fraction of corpus `d`'s docs the index has NOT ingested, in [0,1].
    * 0 = fully covered; rising values mean df/idf are drifting from the
    * corpus the scores claim to describe — [[append]] the missing slice
    * (or re-[[build]]) past your budget. The membership probe is a
    * left-anti join on doc_id — the index side is one row per doc, never
    * the postings. */
  def staleness(s: SparkSession, d: String, dir: String): Double = {
    val cur = T.documents(s, d).select(col("doc_id")).distinct()
    val r = cur.join(s.read.parquet(s"$dir/doclen").select(col("doc_id")),
        Seq("doc_id"), "left_anti")
      .agg(count(lit(1))).collect()(0).getLong(0)
    val total = cur.count()
    if (total == 0L) 0.0 else r.toDouble / total.toDouble
  }

  /** The fixture probe rule (`doc_id % 100 = 7`, top-3 tf-idf terms)
    * replayed against the INDEX's own df and stats — what lets the spec
    * compare search-over-index to the inline query with zero inputs in
    * common beyond the corpus. Deriving a probe's own term counts scans
    * postings by doc_id, which is NOT the index's access path (it is
    * partitioned by term) — acceptable here because this is fixture
    * scaffolding; a real caller brings external query text and supplies
    * (q_doc, wh, idf) directly — idf from the term's posting-list length
    * (df) and `stats/`'s n_docs, both cheap pruned reads. */
  def probeQueryTerms(s: SparkSession, dir: String): DataFrame = {
    val (nDocs, _, _) = readStats(s, dir)
    queryTermsFrom(s, s.read.parquet(s"$dir/postings"), nDocs)
  }

  /** [[probeQueryTerms]] over an explicit postings relation — shared
    * with the streaming index, whose postings are a committed-delta
    * union rather than a directory. */
  private[graft] def queryTermsFrom(s: SparkSession, post: DataFrame,
      nDocs: Long): DataFrame = {
    val probeTf = post.filter(TextStats.isProbe(col("doc_id")))
      .select(col("doc_id"), col("wh"), col("c"))
    // df only for the probe vocabulary: the semi join bounds the count
    // to the probed terms' posting lists instead of the whole index
    val dfTbl = post
      .join(probeTf.select(col("wh")).distinct(), Seq("wh"), "left_semi")
      .groupBy(col("wh")).agg(count(lit(1)).as("df"))
    import s.implicits._
    TextStats.topIdfTerms(probeTf, dfTbl, Seq(nDocs).toDF("n_docs"))
  }

  /** Score + rank over explicit relations — the search core shared with
    * the streaming index. */
  private[graft] def searchFrom(post: DataFrame, dl: DataFrame,
      avgdl: DataFrame, qterms: DataFrame, k: Int): DataFrame =
    rank(TextStats.bm25Score(post, qterms, dl, avgdl), k)

  /** Top-`k` BM25 results per probe for externally supplied query terms
    * (`qterms`: q_doc, wh, idf — the [[probeQueryTerms]] contract). The
    * postings scan prunes to the query terms' bucket partitions (the
    * constant-size collect materializes the wanted buckets as literals,
    * exactly the [[IvfIndex.search]] pattern), then scoring and ranking
    * are the inline query's own definitions. */
  def search(s: SparkSession, dir: String, qterms: DataFrame,
      k: Int = 10): DataFrame = {
    require(k >= 1, s"search: need k >= 1; got $k")
    val (post, dl, avgdl) = open(s, dir, qterms)
    rank(TextStats.bm25Score(post, qterms, dl, avgdl), k)
  }

  /** Max-score pruned search — the WAND-family refinement for long
    * posting lists, returning EXACTLY [[search]]'s rows (safe pruning,
    * spec-asserted). Per probe, each term's score contribution is
    * bounded above by `ub = idf·(k1+1)` (the c→∞ limit of the BM25 term
    * saturation); the highest-ub term is the probe's ESSENTIAL term.
    *
    *  - Phase 1 fully scores only the essential term's posting list —
    *    every final top-k member that matches the essential term is
    *    here — and takes its k-th score as the pruning threshold θ.
    *  - Phase 2 touches the remaining candidates only through a CHEAP
    *    pre-aggregation (Σ ub over their matched terms, 8-byte keys, no
    *    length join, no per-term math) and fully scores just those whose
    *    upper bound clears θ − ε. A doc that cannot beat the k-th
    *    essential-list score can never enter the top k, so dropping it
    *    is exact; ε (1e-9) absorbs the one-ulp double rounding of ub.
    *
    * The saving at 100 TB: common low-idf terms have long posting lists
    * but small ub — their candidates die in the pre-aggregation instead
    * of reaching the dl join + scoring aggregation + window, which is
    * where the cost lives. At fixture scale the crafted-corpus spec
    * proves strict pruning; real savings grow with list-length skew. */
  def searchMaxScore(s: SparkSession, dir: String, qterms: DataFrame,
      k: Int = 10): DataFrame = {
    require(k >= 1, s"searchMaxScore: need k >= 1; got $k")
    val (post, dl, avgdl) = open(s, dir, qterms)
    val (s1, _, surv) = maxScorePhases(post, dl, avgdl, qterms, k)
    rank(s1.unionByName(TextStats.bm25Score(post, qterms, dl, avgdl,
      Some(surv))), k)
  }

  /** The (probe, doc) pairs a search fully scores — the pruning meter
    * the spec grades: `pruned = false` counts every candidate pair the
    * plain [[search]] scores, `true` counts the max-score phases'. */
  def scoredPairs(s: SparkSession, dir: String, qterms: DataFrame,
      k: Int = 10, pruned: Boolean): DataFrame = {
    val (post, dl, avgdl) = open(s, dir, qterms)
    if (!pruned)
      TextStats.bm25Score(post, qterms, dl, avgdl)
        .select(col("q_doc"), col("doc_id"))
    else {
      val (_, essPairs, surv) = maxScorePhases(post, dl, avgdl, qterms, k)
      essPairs.unionByName(surv)
    }
  }

  /** The two max-score phases shared by [[searchMaxScore]] and the
    * [[scoredPairs]] meter: (phase-1 scores, essential pairs, phase-2
    * survivors). */
  private def maxScorePhases(post: DataFrame, dl: DataFrame,
      avgdl: DataFrame, qterms: DataFrame,
      k: Int): (DataFrame, DataFrame, DataFrame) = {
    val we = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_doc")).orderBy(col("ub").desc, col("wh"))
    val qe = qterms
      .withColumn("ub", col("idf").cast(DoubleType) * lit(2.2))
      .withColumn("ess", row_number().over(we) === 1)
    val pre = post.join(broadcast(qe), Seq("wh"))
      .filter(col("doc_id") =!= col("q_doc"))
      .groupBy(col("q_doc"), col("doc_id"))
      .agg(sum(col("ub")).as("ub_sum"),
        max(when(col("ess"), 1).otherwise(0)).as("has_ess"))
    val essPairs = pre.filter(col("has_ess") === 1)
      .select(col("q_doc"), col("doc_id"))
    val s1 = TextStats.bm25Score(post, qterms, dl, avgdl, Some(essPairs))
    val rw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_doc")).orderBy(col("score_dec").desc, col("doc_id"))
    val theta = s1.withColumn("rn", row_number().over(rw))
      .filter(col("rn") === k)
      .select(col("q_doc"), col("score_dec").cast(DoubleType).as("theta"))
    val surv = pre.filter(col("has_ess") === 0)
      .join(broadcast(theta), Seq("q_doc"), "left")
      // a probe whose essential list holds fewer than k docs has no
      // threshold yet — nothing may be pruned for it
      .filter(col("theta").isNull || col("ub_sum") >= col("theta") - lit(1e-9))
      .select(col("q_doc"), col("doc_id"))
    (s1, essPairs, surv)
  }

  private def open(s: SparkSession, dir: String,
      qterms: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val (_, avgdl, nBuckets) = readStats(s, dir)
    val wanted = qterms.select(bucket(nBuckets)).distinct()
      .collect().map(_.getInt(0)).toSeq
    val post = s.read.parquet(s"$dir/postings")
      .where(col("tb").isin(wanted: _*))
      .select(col("doc_id"), col("wh"), col("c"))
    val dl = s.read.parquet(s"$dir/doclen")
    import s.implicits._
    (post, dl, Seq(avgdl).toDF("avgdl"))
  }

  private def rank(scores: DataFrame, k: Int): DataFrame = {
    val rw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_doc")).orderBy(col("score_dec").desc, col("doc_id"))
    scores
      .withColumn("rn", row_number().over(rw).cast(LongType))
      .filter(col("rn") <= k)
      .select(col("q_doc"), col("rn"), col("doc_id"), col("n_terms"),
        col("score_dec").cast(DoubleType).as("score"))
      .orderBy(col("q_doc"), col("rn"))
  }
}
