package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Change rows for the CDC spec — file-level so Spark can build an
  * encoder without an outer-instance scope. */
final case class MergeChange(k: Long, payload: String, op: String)

/** The streaming CDC table: upserts land, deletes drop, later epochs win,
  * and a replayed batch (crash between snapshot write and pointer flip)
  * leaves the same table. */
class StreamMergeSpec extends SparkSuite {
  import spark.implicits._

  test("epochs fold into the table in order; deletes drop; upserts replace") {
    val dir = freshDir("streammerge")
    val ckpt = freshDir("streammerge_ckpt")
    val input = MemoryStream[MergeChange](spark)
    val q = StreamMerge.start(input.toDF(), "k", dir, ckpt)
    try {
      input.addData(MergeChange(1, "a1", "I"), MergeChange(2, "b1", "I"),
        MergeChange(3, "c1", "I"))
      q.processAllAvailable()
      assert(StreamMerge.snapshot(spark, dir, "k").keySet == Set(1L, 2L, 3L))

      input.addData(MergeChange(2, "b2", "U"), MergeChange(3, "", "D"),
        MergeChange(4, "d1", "I"))
      q.processAllAvailable()
      val snap = StreamMerge.currentTable(spark, dir).get
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(snap == Map(1L -> "a1", 2L -> "b2", 4L -> "d1"), snap.toString)
    } finally q.stop()
  }

  test("replaying a batch with the same id is idempotent") {
    val dir = freshDir("streammerge_replay")
    val b0 = Seq(MergeChange(1, "a1", "I"), MergeChange(2, "b1", "I")).toDF()
    StreamMerge.applyBatch(spark, dir, b0, "k", 0L)
    val b1 = Seq(MergeChange(2, "b2", "U"), MergeChange(1, "", "D")).toDF()
    StreamMerge.applyBatch(spark, dir, b1, "k", 1L)
    val once = StreamMerge.currentTable(spark, dir).get
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // the crash-replay: same changes, same batchId, applied again
    StreamMerge.applyBatch(spark, dir, b1, "k", 1L)
    val twice = StreamMerge.currentTable(spark, dir).get
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(once == Map(2L -> "b2") && twice == once, s"$once vs $twice")
    assert(StreamMerge.latestVersion(dir).contains(1L))
  }

  test("multi-change-per-key batch: seqCol folds last-wins; without it, loud failure") {
    val dir = freshDir("streammerge_multi")
    // I then U then D for key 1, I then U for key 2 — one batch
    val b = Seq(
      (1L, "a1", "I", 10L), (1L, "a2", "U", 11L), (1L, "", "D", 12L),
      (2L, "b1", "I", 10L), (2L, "b2", "U", 13L))
      .toDF("k", "payload", "op", "seq")
    StreamMerge.applyBatch(spark, dir, b, "k", 0L, seqCol = Some("seq"))
    val snap = StreamMerge.currentTable(spark, dir).get
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(snap == Map(2L -> "b2"), snap.toString) // k=1 ended deleted

    val dir2 = freshDir("streammerge_multi2")
    val noSeq = Seq(MergeChange(1, "a1", "I"), MergeChange(1, "a2", "U")).toDF()
    val e = intercept[IllegalStateException] {
      StreamMerge.applyBatch(spark, dir2, noSeq, "k", 0L)
    }
    assert(e.getMessage.contains("seqCol"), e.getMessage)

    // two changes at the SAME sequence are just as ambiguous: the arg-max
    // would tie-break on payload bytes and could silently drop a delete
    val dir3 = freshDir("streammerge_multi3")
    val tied = Seq((1L, "x", "U", 100L), (1L, "", "D", 100L))
      .toDF("k", "payload", "op", "seq")
    val e2 = intercept[IllegalStateException] {
      StreamMerge.applyBatch(spark, dir3, tied, "k", 0L, seqCol = Some("seq"))
    }
    assert(e2.getMessage.contains("same seq"), e2.getMessage)
  }

  test("checkpoint-lineage brand: a different checkpoint against the same dir fails loudly") {
    val dir = freshDir("streammerge_brand")
    val b0 = Seq(MergeChange(1, "a1", "I")).toDF()
    StreamMerge.applyBatch(spark, dir, b0, "k", 0L, checkpoint = Some("/ckpt/one"))
    // same lineage: fine, even on replay
    StreamMerge.applyBatch(spark, dir, b0, "k", 0L, checkpoint = Some("/ckpt/one"))
    val e = intercept[IllegalStateException] {
      StreamMerge.applyBatch(spark, dir, b0, "k", 0L, checkpoint = Some("/ckpt/two"))
    }
    assert(e.getMessage.contains("lineage"), e.getMessage)
  }

  test("retention keeps at most the current and previous snapshots") {
    val dir = freshDir("streammerge_retain")
    (0L to 3L).foreach { i =>
      StreamMerge.applyBatch(spark, dir,
        Seq(MergeChange(i, s"p$i", "I")).toDF(), "k", i)
    }
    val versions = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("v=")).sorted.toSeq
    assert(versions == Seq("v=2", "v=3"), versions.toString)
    assert(StreamMerge.snapshot(spark, dir, "k").keySet == Set(0L, 1L, 2L, 3L))
  }

  test("delete of a never-seen key and an empty base are harmless") {
    val dir = freshDir("streammerge_edge")
    val b0 = Seq(MergeChange(99, "", "D")).toDF()
    StreamMerge.applyBatch(spark, dir, b0, "k", 0L)
    assert(StreamMerge.currentTable(spark, dir).get.isEmpty)
    val b1 = Seq(MergeChange(1, "a", "I")).toDF()
    StreamMerge.applyBatch(spark, dir, b1, "k", 1L)
    assert(StreamMerge.snapshot(spark, dir, "k").keySet == Set(1L))
  }
}
