package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.LongType

import graft.llm.{PostingsIndex, TextStats}

/** Runnable end-to-end retrieval pipeline — the composition story the
  * individual registry operators exist for, stitched from THEIR code
  * paths (no parallel re-implementations, so the demo cannot drift from
  * the graded surfaces):
  *
  *   1. CURATE  — `curate_verdict` decides keep/drop per document;
  *   2. CHUNK   — `chunk_documents` windows the kept docs into
  *                overlapping context chunks;
  *   3. INDEX   — `PostingsIndex.build` over the chunk corpus (each
  *                chunk is a retrieval unit with a synthetic key);
  *   4. QUERY   — probe documents ask their top-3 tf-idf terms, idf
  *                taken from the CHUNK index (`topIdfTerms` — the
  *                text_bm25 derivation against the index's own df);
  *   5. RETRIEVE — `PostingsIndex.searchMaxScore` (the pruned path);
  *   6. PACK    — rank-order chunks fill a per-query character budget
  *                (greedy prefix, the pack_sequences shape).
  *
  * Output: `outDir/contexts` parquet (q_doc, rn, chunk_key, doc_id,
  * chunk_id, chunk_len, cum_len) + one summary JSON line on stdout.
  * Deterministic end to end — `RagDemoSpec` replays it twice and
  * asserts equality, provenance (only kept docs' chunks), and the
  * budget invariant.
  */
object RagDemo {

  /** chunk key = doc_id·10^6 + chunk_id: unique as long as no document
    * exceeds 10^6 chunks (90 MB of text at the 90-char stride) —
    * asserted loudly rather than assumed. */
  private val ChunkKeyBase = 1000000L

  final case class Result(contexts: DataFrame, nKept: Long, nChunks: Long,
      nProbes: Long)

  def run(spark: SparkSession, sfDir: String, outDir: String,
      budget: Long = 600L, k: Int = 8): Result = {
    // 1. curate: the oracle-graded verdict decides the corpus
    val verdicts = SparkEntry.queries("curate_verdict")(spark, sfDir)
    val kept = verdicts.filter(col("keep")).select(col("doc_id"))
    val nKept = kept.count()

    // 2. chunk the kept documents (the oracle-graded geometry)
    val chunks = SparkEntry.queries("chunk_documents")(spark, sfDir)
      .join(kept, Seq("doc_id"))
    val over = chunks.filter(col("chunk_id") >= ChunkKeyBase).limit(1).collect()
    if (over.nonEmpty) throw new IllegalStateException(
      s"rag_demo: doc ${over.head.get(0)} exceeds $ChunkKeyBase chunks — " +
        "the synthetic chunk key would collide; raise ChunkKeyBase")

    // 3. index the chunks: a documents-shaped corpus whose doc_id is the
    // chunk key, so every PostingsIndex surface applies unchanged
    val lang = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"))
    val chunkDocs = chunks.join(lang, Seq("doc_id"))
      .select((col("doc_id") * ChunkKeyBase + col("chunk_id")).as("doc_id"),
        col("chunk_text").as("text"), col("lang"))
    val nChunks = chunkDocs.count()
    val corpusDir = s"$outDir/chunk_corpus"
    chunkDocs.write.mode("overwrite").parquet(s"$corpusDir/documents.parquet")
    val idxDir = s"$outDir/index"
    PostingsIndex.build(spark, corpusDir, idxDir)

    // 4. queries: probe documents (the fixture probe rule) ask their own
    // top-3 tf-idf terms, with df/idf taken from the CHUNK index — the
    // real query flow: query text -> terms -> idf from the index served
    val probeTf = TextStats.termFreqs(
      graft.core.Tables.documents(spark, sfDir)
        .filter(TextStats.isProbe(col("doc_id"))))
    val post = spark.read.parquet(s"$idxDir/postings")
    val dfTbl = post
      .join(probeTf.select(col("wh")).distinct(), Seq("wh"), "left_semi")
      .groupBy(col("wh")).agg(count(lit(1)).as("df"))
    import spark.implicits._
    val qterms = TextStats.topIdfTerms(probeTf, dfTbl,
      Seq(nChunks).toDF("n_docs"))
    val nProbes = qterms.select(col("q_doc")).distinct().count()

    // 5. retrieve through the max-score pruned path
    val hits = PostingsIndex.searchMaxScore(spark, idxDir, qterms, k)

    // 6. pack: greedy rank-order prefix under the per-query char budget
    val w = Window.partitionBy(col("q_doc")).orderBy(col("rn"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val contexts = hits
      .withColumn("chunk_key", col("doc_id"))
      .withColumn("src_doc", expr(s"doc_id div $ChunkKeyBase"))
      .withColumn("chunk_id", pmod(col("doc_id"), lit(ChunkKeyBase)))
      .join(chunkDocs.select(col("doc_id"),
        length(col("text")).cast(LongType).as("chunk_len")), Seq("doc_id"))
      .withColumn("cum_len", sum(col("chunk_len")).over(w))
      .filter(col("cum_len") <= budget)
      .select(col("q_doc"), col("rn"), col("chunk_key"),
        col("src_doc").as("doc_id"), col("chunk_id"), col("chunk_len"),
        col("cum_len"))
      .orderBy(col("q_doc"), col("rn"))
    contexts.write.mode("overwrite").parquet(s"$outDir/contexts")
    Result(spark.read.parquet(s"$outDir/contexts"), nKept, nChunks, nProbes)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("target/ragdemo")
    val spark = graft.core.LocalSession(4, "graft-rag-demo")
    val r = run(spark, sfDir, outDir)
    val nCtx = r.contexts.count()
    println(s"""{"demo":"rag","kept":${r.nKept},"chunks":${r.nChunks},""" +
      s""""probes":${r.nProbes},"context_rows":$nCtx,"out":"$outDir"}""")
    spark.stop()
  }
}
