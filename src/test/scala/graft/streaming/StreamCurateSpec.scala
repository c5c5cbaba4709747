package graft.streaming

import java.nio.file.{Files, Paths}

import graft.{SparkEntry, SparkSuite}
import graft.core.{Tables => T}
import org.apache.spark.sql.functions.col

/** The streaming curation composition: documents streamed in
  * doc_id-ordered micro-batches through `StreamCurate` must end at
  * EXACTLY the batch `curate_verdict` table — including across a
  * checkpointed stop/restart in the middle of the corpus — and the
  * delta publication must be replay-idempotent and lineage-branded. */
class StreamCurateSpec extends SparkSuite {

  private val sf0001 = "/root/testdata/sf0.001"

  /** doc_id-range terciles of the fixture — batches arrive in id order,
    * so stream first-arrival canonicality ≡ the batch min-doc_id rule. */
  private def chunks = {
    val docs = T.documents(spark, sf0001)
    val ids = docs.select(col("doc_id")).orderBy(col("doc_id"))
      .collect().map(_.getLong(0))
    val (c1, c2) = (ids(ids.length / 3), ids(2 * ids.length / 3))
    Seq(
      docs.filter(col("doc_id") < c1),
      docs.filter(col("doc_id") >= c1 && col("doc_id") < c2),
      docs.filter(col("doc_id") >= c2))
  }

  test("three ordered batches with a mid-stream restart reproduce the batch verdict") {
    val out = freshDir("streamcurate")
    val ckpt = freshDir("streamcurate_ckpt")
    val srcDir = freshDir("streamcurate_src")
    Files.createDirectories(Paths.get(srcDir))
    val schema = T.documents(spark, sf0001).schema
    // one file per chunk with ascending mtimes: the file source (with
    // maxFilesPerTrigger=1) then delivers them as three ordered batches
    def addChunk(i: Int): Unit = {
      val tmp = freshDir(s"streamcurate_stage$i")
      chunks(i).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = Paths.get(srcDir, f"c$i%02d.parquet")
      Files.move(part.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    def stream() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)

    // phase 1: two chunks, then stop — a committed mid-corpus state
    addChunk(0); addChunk(1)
    val q1 = StreamCurate.start(stream(), out, sf0001, ckpt)
    try q1.processAllAvailable() finally q1.stop()
    val mid = StreamCurate.currentVerdicts(spark, out).get.count()
    assert(mid > 0, "no verdicts published before the restart")

    // phase 2: restart from the checkpoint, deliver the last chunk
    addChunk(2)
    val q2 = StreamCurate.start(stream(), out, sf0001, ckpt)
    try q2.processAllAvailable() finally q2.stop()

    val got = StreamCurate.currentVerdicts(spark, out).get
      .orderBy(col("doc_id")).collect().toSeq
    val want = SparkEntry.queries("curate_verdict")(spark, sf0001)
      .collect().toSeq
    assert(got.size == want.size, s"${got.size} vs ${want.size} verdicts")
    assert(got == want, "streamed verdicts differ from the batch oracle twin")
    // the restart really split the work: phase 1 published fewer rows
    assert(mid < got.size, s"mid=$mid, final=${got.size}")
  }

  test("replaying a batch with the same id is idempotent") {
    val out = freshDir("streamcurate_replay")
    val bench = StreamCurate.benchShingles(spark, sf0001)
    StreamCurate.applyBatch(spark, out, chunks(0), 0L, bench)
    StreamCurate.applyBatch(spark, out, chunks(1), 1L, bench)
    val once = StreamCurate.currentVerdicts(spark, out).get
      .orderBy(col("doc_id")).collect().toSeq
    // the crash-replay: same docs, same batchId, applied again
    StreamCurate.applyBatch(spark, out, chunks(1), 1L, bench)
    val twice = StreamCurate.currentVerdicts(spark, out).get
      .orderBy(col("doc_id")).collect().toSeq
    assert(once == twice && StreamCurate.latestVersion(out).contains(1L))
  }

  test("a duplicate document arriving in a later batch is demoted, the first keeps its verdict") {
    val out = freshDir("streamcurate_dup")
    val bench = StreamCurate.benchShingles(spark, sf0001)
    StreamCurate.applyBatch(spark, out, chunks(0), 0L, bench)
    val v0 = StreamCurate.currentVerdicts(spark, out).get
      .orderBy(col("doc_id")).collect().toSeq
    // re-send chunk 0's documents under fresh ids: every fingerprint is
    // already committed state, so every non-bench copy must read duplicate
    val shift = 1000000L
    val copies = chunks(0).withColumn("doc_id", col("doc_id") + shift)
    StreamCurate.applyBatch(spark, out, copies, 1L, bench)
    val after = StreamCurate.currentVerdicts(spark, out).get
      .orderBy(col("doc_id")).collect().toSeq
    assert(after.take(v0.size) == v0, "earlier verdicts changed")
    val dupRows = after.drop(v0.size)
    assert(dupRows.nonEmpty)
    assert(dupRows.forall(r =>
      r.getString(r.fieldIndex("reasons")).contains("duplicate")),
      "a re-sent document was not flagged duplicate")
    assert(dupRows.forall(!_.getBoolean(3)), "a duplicate was kept")
  }

  test("compact folds committed deltas into one partition per table, invisibly to readers") {
    val out = freshDir("streamcurate_compact")
    val bench = StreamCurate.benchShingles(spark, sf0001)
    StreamCurate.applyBatch(spark, out, chunks(0), 0L, bench)
    StreamCurate.applyBatch(spark, out, chunks(1), 1L, bench)
    val before = StreamCurate.currentVerdicts(spark, out).get
      .orderBy(col("doc_id")).collect().toSeq
    def deltas(sub: String) = new java.io.File(s"$out/$sub").listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).sorted.toSeq
    assert(deltas("fps").size == 2 && deltas("verdicts").size == 2)

    StreamCurate.compact(spark, out)
    assert(deltas("fps") == Seq("batch=1") && deltas("verdicts") == Seq("batch=1"),
      s"${deltas("fps")} / ${deltas("verdicts")}")
    assert(StreamCurate.currentVerdicts(spark, out).get
      .orderBy(col("doc_id")).collect().toSeq == before,
      "compaction changed the committed verdicts")

    // the stream continues over the compacted state identically: the
    // full corpus still ends at the batch oracle
    StreamCurate.applyBatch(spark, out, chunks(2), 2L, bench)
    val got = StreamCurate.currentVerdicts(spark, out).get
      .orderBy(col("doc_id")).collect().toSeq
    val want = SparkEntry.queries("curate_verdict")(spark, sf0001)
      .collect().toSeq
    assert(got == want, "post-compaction stream drifted from the batch oracle")

    // a crash between the two swap renames self-heals on the next run
    val live = Paths.get(out, "fps")
    Files.move(live, live.resolveSibling("fps_retiring"))
    StreamCurate.compact(spark, out)
    assert(StreamCurate.currentVerdicts(spark, out).get
      .orderBy(col("doc_id")).collect().toSeq == want,
      "heal lost committed rows after a mid-swap crash")
    assert(deltas("fps") == Seq("batch=2"))
  }

  test("a different checkpoint against the same output dir fails loudly") {
    val out = freshDir("streamcurate_brand")
    val bench = StreamCurate.benchShingles(spark, sf0001)
    StreamCurate.applyBatch(spark, out, chunks(0), 0L, bench,
      checkpoint = Some("/ckpt/one"))
    StreamCurate.applyBatch(spark, out, chunks(0), 0L, bench,
      checkpoint = Some("/ckpt/one")) // same lineage: fine, even on replay
    val e = intercept[IllegalStateException] {
      StreamCurate.applyBatch(spark, out, chunks(0), 0L, bench,
        checkpoint = Some("/ckpt/two"))
    }
    assert(e.getMessage.contains("lineage") &&
      e.getMessage.contains("stream_curate"), e.getMessage)
  }
}
