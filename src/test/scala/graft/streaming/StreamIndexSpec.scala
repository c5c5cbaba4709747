package graft.streaming

import java.nio.file.{Files, Paths}

import graft.SparkSuite
import graft.core.{Tables => T}
import graft.llm.PostingsIndex
import org.apache.spark.sql.functions.col

/** The streaming index composition: documents streamed in micro-batches
  * through `StreamIndex` must yield EXACTLY the search results of a
  * static `PostingsIndex` built on the accumulated corpus — including
  * across a checkpointed stop/restart — with replay-idempotent deltas,
  * loud re-ingest refusal, and reader-invisible compaction. */
class StreamIndexSpec extends SparkSuite {

  private val sf001 = "/root/testdata/sf0.01"

  private def chunks = {
    val docs = T.documents(spark, sf001)
    val ids = docs.select(col("doc_id")).orderBy(col("doc_id"))
      .collect().map(_.getLong(0))
    val (c1, c2) = (ids(ids.length / 3), ids(2 * ids.length / 3))
    Seq(
      docs.filter(col("doc_id") < c1),
      docs.filter(col("doc_id") >= c1 && col("doc_id") < c2),
      docs.filter(col("doc_id") >= c2))
  }

  /** The static ground truth: a full PostingsIndex over the same corpus. */
  private def staticSearch(): Seq[org.apache.spark.sql.Row] = {
    val dir = freshDir("streamindex_static")
    PostingsIndex.build(spark, sf001, dir)
    PostingsIndex.search(spark, dir,
      PostingsIndex.probeQueryTerms(spark, dir)).collect().toSeq
  }

  test("three streamed batches with a mid-stream restart equal the static index") {
    val out = freshDir("streamindex")
    val ckpt = freshDir("streamindex_ckpt")
    val srcDir = freshDir("streamindex_src")
    Files.createDirectories(Paths.get(srcDir))
    val schema = T.documents(spark, sf001).schema
    def addChunk(i: Int): Unit = {
      val tmp = freshDir(s"streamindex_stage$i")
      chunks(i).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = Paths.get(srcDir, f"c$i%02d.parquet")
      Files.move(part.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    def stream() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)

    addChunk(0); addChunk(1)
    val q1 = StreamIndex.start(stream(), out, ckpt)
    try q1.processAllAvailable() finally q1.stop()
    val mid = StreamIndex.searchLive(spark, out).collect().toSeq
    assert(mid.nonEmpty, "no results from the mid-corpus index")

    addChunk(2)
    val q2 = StreamIndex.start(stream(), out, ckpt)
    try q2.processAllAvailable() finally q2.stop()

    val got = StreamIndex.searchLive(spark, out).collect().toSeq
    assert(got == staticSearch(),
      "streamed index diverges from the static build on the same corpus")
    assert(mid != got, "the last chunk changed nothing?")
  }

  test("replay is idempotent; re-ingesting a committed doc_id refuses loudly") {
    val out = freshDir("streamindex_replay")
    StreamIndex.applyBatch(spark, out, chunks(0), 0L)
    StreamIndex.applyBatch(spark, out, chunks(1), 1L)
    val once = StreamIndex.searchLive(spark, out).collect().toSeq
    StreamIndex.applyBatch(spark, out, chunks(1), 1L) // crash-replay
    assert(StreamIndex.searchLive(spark, out).collect().toSeq == once)
    assert(StreamIndex.latestVersion(out).contains(1L))
    val err = intercept[IllegalStateException] {
      StreamIndex.applyBatch(spark, out, chunks(1), 2L) // same docs, new batch
    }
    assert(err.getMessage.contains("already indexed"))
  }

  test("checkpoint-lineage brand: a different checkpoint against the same dir fails loudly") {
    val out = freshDir("streamindex_brand")
    StreamIndex.applyBatch(spark, out, chunks(0), 0L, Some("/ckpt/one"))
    // same lineage: fine, even on replay
    StreamIndex.applyBatch(spark, out, chunks(0), 0L, Some("/ckpt/one"))
    val e = intercept[IllegalStateException] {
      StreamIndex.applyBatch(spark, out, chunks(1), 1L, Some("/ckpt/two"))
    }
    assert(e.getMessage.startsWith("stream_index: ") &&
      e.getMessage.contains("lineage"), e.getMessage)
    assert(StreamIndex.latestVersion(out).contains(0L))
  }

  test("compact self-heals every crash state a previous compact can leave") {
    val out = freshDir("streamindex_heal")
    StreamIndex.applyBatch(spark, out, chunks(0), 0L)
    StreamIndex.applyBatch(spark, out, chunks(1), 1L)
    val truth = StreamIndex.searchLive(spark, out).collect().toSeq
    val live = Paths.get(out, "postings")
    val old = Paths.get(out, "postings_retiring")
    // crash BETWEEN the two swap renames: postings/ missing, retiring live
    Files.move(live, old)
    StreamIndex.compact(spark, out)
    assert(StreamIndex.searchLive(spark, out).collect().toSeq == truth,
      "heal lost rows after a mid-swap crash")
    // crash AFTER the swap but before cleanup: stale retiring + staging
    Files.createDirectories(old)
    Files.createDirectories(Paths.get(out, "postings_compacting"))
    StreamIndex.compact(spark, out)
    assert(!Files.exists(old) &&
      !Files.exists(Paths.get(out, "postings_compacting")))
    assert(StreamIndex.searchLive(spark, out).collect().toSeq == truth,
      "heal lost rows after a post-swap crash")
  }

  test("compact folds deltas to one partition per table, invisibly to search") {
    val out = freshDir("streamindex_compact")
    StreamIndex.applyBatch(spark, out, chunks(0), 0L)
    StreamIndex.applyBatch(spark, out, chunks(1), 1L)
    val before = StreamIndex.searchLive(spark, out).collect().toSeq
    def deltas(sub: String) = new java.io.File(s"$out/$sub").listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).sorted.toSeq
    assert(deltas("postings") == Seq("batch=0", "batch=1"))
    StreamIndex.compact(spark, out)
    assert(deltas("postings") == Seq("batch=1") &&
      deltas("doclen") == Seq("batch=1"))
    assert(StreamIndex.searchLive(spark, out).collect().toSeq == before,
      "compaction changed search results")
    // still append-able after the fold
    val shifted = chunks(2)
    StreamIndex.applyBatch(spark, out, shifted, 2L)
    assert(StreamIndex.searchLive(spark, out).collect().toSeq == staticSearch())
  }
}
