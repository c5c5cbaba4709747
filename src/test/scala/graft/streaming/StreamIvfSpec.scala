package graft.streaming

import java.nio.file.{Files, Paths}

import graft.SparkSuite
import graft.core.{Tables => T}
import graft.llm.IvfIndex
import org.apache.spark.sql.functions.col

/** The streaming IVF composition: embeddings streamed in micro-batches
  * through `StreamIvf` must yield EXACTLY the search results of a static
  * `IvfIndex` built on the accumulated corpus — including across a
  * checkpointed stop/restart — with replay-idempotent deltas, loud
  * re-ingest refusal, and a retrain step that equals a fresh build and
  * self-heals its crash states. */
class StreamIvfSpec extends SparkSuite {

  private val sf001 = "/root/testdata/sf0.01"

  private def chunks = {
    val vecs = T.embeddings(spark, sf001)
    val ids = vecs.select(col("vec_id")).orderBy(col("vec_id"))
      .collect().map(_.getLong(0))
    val (c1, c2) = (ids(ids.length / 3), ids(2 * ids.length / 3))
    Seq(
      vecs.filter(col("vec_id") < c1),
      vecs.filter(col("vec_id") >= c1 && col("vec_id") < c2),
      vecs.filter(col("vec_id") >= c2))
  }

  /** The static ground truth: a full IvfIndex over the same corpus —
    * same k/iters as StreamIvf.init's defaults, so frozen-centroid
    * streaming over the WHOLE corpus must land on identical results. */
  private def staticSearch(name: String): Seq[org.apache.spark.sql.Row] = {
    val dir = freshDir(name)
    IvfIndex.build(spark, sf001, dir)
    IvfIndex.search(spark, sf001, dir).collect().toSeq
  }

  test("three streamed batches with a mid-stream restart equal the static index") {
    val out = freshDir("streamivf")
    val ckpt = freshDir("streamivf_ckpt")
    val srcDir = freshDir("streamivf_src")
    Files.createDirectories(Paths.get(srcDir))
    val schema = T.embeddings(spark, sf001).schema
    def addChunk(i: Int): Unit = {
      val tmp = freshDir(s"streamivf_stage$i")
      chunks(i).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = Paths.get(srcDir, f"c$i%02d.parquet")
      Files.move(part.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    def stream() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)

    // centroids frozen from the full corpus: with every vector then
    // streamed in, the live index must EQUAL the static build
    StreamIvf.init(spark, sf001, out)
    addChunk(0); addChunk(1)
    val q1 = StreamIvf.start(stream(), out, ckpt)
    try q1.processAllAvailable() finally q1.stop()
    val mid = StreamIvf.searchLive(spark, sf001, out).collect().toSeq
    assert(mid.nonEmpty, "no results from the mid-corpus index")

    addChunk(2)
    val q2 = StreamIvf.start(stream(), out, ckpt)
    try q2.processAllAvailable() finally q2.stop()

    val got = StreamIvf.searchLive(spark, sf001, out).collect().toSeq
    assert(got == staticSearch("streamivf_static"),
      "streamed index diverges from the static build on the same corpus")
    assert(mid != got, "the last chunk changed nothing?")
  }

  test("replay is idempotent; re-ingesting a committed vec_id refuses loudly") {
    val out = freshDir("streamivf_replay")
    StreamIvf.init(spark, sf001, out)
    StreamIvf.applyBatch(spark, out, chunks(0), 0L)
    StreamIvf.applyBatch(spark, out, chunks(1), 1L)
    val once = StreamIvf.searchLive(spark, sf001, out).collect().toSeq
    StreamIvf.applyBatch(spark, out, chunks(1), 1L) // crash-replay
    assert(StreamIvf.searchLive(spark, sf001, out).collect().toSeq == once)
    assert(StreamIvf.latestVersion(out).contains(1L))
    val err = intercept[IllegalStateException] {
      StreamIvf.applyBatch(spark, out, chunks(1), 2L) // same vecs, new batch
    }
    assert(err.getMessage.contains("already indexed"))
  }

  test("checkpoint-lineage brand: a different checkpoint against the same dir fails loudly") {
    val out = freshDir("streamivf_brand")
    StreamIvf.init(spark, sf001, out)
    StreamIvf.applyBatch(spark, out, chunks(0), 0L, Some("/ckpt/one"))
    // same lineage: fine, even on replay
    StreamIvf.applyBatch(spark, out, chunks(0), 0L, Some("/ckpt/one"))
    val e = intercept[IllegalStateException] {
      StreamIvf.applyBatch(spark, out, chunks(1), 1L, Some("/ckpt/two"))
    }
    assert(e.getMessage.startsWith("stream_ivf: ") &&
      e.getMessage.contains("lineage"), e.getMessage)
    assert(StreamIvf.latestVersion(out).contains(0L))
  }

  test("streaming before init fails loudly") {
    val out = freshDir("streamivf_noinit")
    val err = intercept[IllegalStateException] {
      StreamIvf.applyBatch(spark, out, chunks(0), 0L)
    }
    assert(err.getMessage.contains("no model"))
    intercept[IllegalStateException] {
      StreamIvf.searchLive(spark, sf001, out)
    }
  }

  test("an all-zero-norm batch commits its pointer instead of replaying forever") {
    import spark.implicits._
    val out = freshDir("streamivf_zeronorm")
    StreamIvf.init(spark, sf001, out)
    val dim = T.embeddings(spark, sf001).selectExpr("size(embedding)")
      .limit(1).collect().head.getInt(0)
    val zeros = Seq((900001L, Array.fill(dim)(0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    // batch 0: nothing assignable — the WRITE is skipped but the flip
    // must land, else this batch replays in full on every restart
    StreamIvf.applyBatch(spark, out, zeros, 0L)
    assert(StreamIvf.latestVersion(out).contains(0L),
      "zero-norm batch must still commit its pointer")
    // the committed-but-empty state reads as an empty relation...
    assert(StreamIvf.committedAssign(spark, out).get.count() == 0)
    StreamIvf.applyBatch(spark, out, zeros, 0L) // replay short-circuits
    // ...and normal ingest proceeds on top of it
    StreamIvf.applyBatch(spark, out, chunks(0), 1L)
    assert(StreamIvf.latestVersion(out).contains(1L))
    assert(StreamIvf.committedAssign(spark, out).get.count() > 0)
  }

  test("retrain refuses a corpus that is missing committed vec_ids") {
    val out = freshDir("streamivf_partialcorpus")
    StreamIvf.init(spark, sf001, out)
    StreamIvf.applyBatch(spark, out, chunks(0), 0L)
    StreamIvf.applyBatch(spark, out, chunks(1), 1L)
    // a corpus holding only chunk 0's vec_ids: folding over it would
    // silently drop chunk 1's committed vectors from the live index
    val partial = freshDir("streamivf_partial_src")
    chunks(0).write.parquet(s"$partial/embeddings.parquet")
    val err = intercept[IllegalStateException] {
      StreamIvf.retrain(spark, partial, out)
    }
    assert(err.getMessage.contains("absent from the retrain corpus"))
    // nothing flipped: the live model is untouched
    assert(StreamIvf.modelVersion(out).contains(0L))
    assert(StreamIvf.searchLive(spark, sf001, out).collect().nonEmpty)
  }

  test("retrain equals a fresh build and sweeps crashed-model leftovers") {
    val out = freshDir("streamivf_retrain")
    // bootstrap centroids from a DIFFERENT corpus: the streamed index
    // works but cannot equal a fresh sf0.01 build...
    StreamIvf.init(spark, "/root/testdata/sf0.001", out)
    StreamIvf.applyBatch(spark, out, chunks(0), 0L)
    StreamIvf.applyBatch(spark, out, chunks(1), 1L)
    StreamIvf.applyBatch(spark, out, chunks(2), 2L)
    val truth = staticSearch("streamivf_retrain_static")
    val drifted = StreamIvf.searchLive(spark, sf001, out).collect().toSeq
    assert(drifted != truth, "bootstrap centroids accidentally equal?")
    // ...a crashed earlier retrain left an unreferenced model dir...
    Files.createDirectories(Paths.get(out, "model=99", "centroids"))
    // ...and retrain over the accumulated corpus restores exact
    // fresh-build equality, removing the leftover
    StreamIvf.retrain(spark, sf001, out)
    assert(StreamIvf.modelVersion(out).contains(1L))
    assert(!Files.exists(Paths.get(out, "model=99")))
    assert(!Files.exists(Paths.get(out, "model=0")))
    val got = StreamIvf.searchLive(spark, sf001, out).collect().toSeq
    assert(got == truth,
      "retrained live index diverges from a fresh build on the same corpus")
    // the fold kept exactly-once intact: appending AFTER a retrain
    // still refuses committed ids
    val err = intercept[IllegalStateException] {
      StreamIvf.applyBatch(spark, out, chunks(0), 3L)
    }
    assert(err.getMessage.contains("already indexed"))
  }
}
