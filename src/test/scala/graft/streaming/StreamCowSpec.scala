package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSuite
import graft.lake.CowTable

/** Orders-schema change rows for the COW CDC spec (file-level so Spark
  * builds the encoder without an outer-instance scope). */
final case class CowChange(o_orderkey: Long, o_custkey: Long,
    o_orderstatus: String, o_totalprice: Double, o_orderdate: Timestamp,
    o_orderpriority: String, op: String, seq: Long)

/** The streaming COW CDC table: batches land as row-level commits that
  * share untouched units, every prior version stays readable, replays
  * are idempotent, and a wiped checkpoint is loud. */
class StreamCowSpec extends SparkSuite {
  import spark.implicits._

  private def ts(day: Int) = new Timestamp((9131L + day) * 86400000L)

  private def ch(k: Long, ck: Long, price: Double, op: String,
      seq: Long = 0L) =
    CowChange(k, ck, "O", price, ts((k % 64).toInt), "1-URGENT", op, seq)

  /** 64 seed rows spread over the ck dimension. */
  private def seed(dir: String): Unit = {
    val rows = (0 until 64).map(i =>
      (i.toLong, (i * 64).toLong, "O", i * 1.0, ts(i % 64), "1-URGENT"))
    CowTable.init(spark,
      rows.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"), dir)
  }

  private def prices(dir: String): Map[Long, Double] = {
    val v = graft.lake.TimeTravel.latestVersion(dir).get
    CowTable.readVersion(spark, dir, v)
      .select("o_orderkey", "o_totalprice")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  test("CDC batches land as row-level commits; U replaces, I adds, D drops") {
    val dir = freshDir("streamcow")
    val ckpt = freshDir("streamcow_ckpt")
    seed(dir)
    val input = MemoryStream[CowChange](spark)
    val q = StreamCow.start(input.toDF(), dir, ckpt, seqCol = Some("seq"))
    try {
      input.addData(ch(1, 64, 99.0, "U"), ch(100, 640, 5.0, "I"))
      q.processAllAvailable()
      val p1 = prices(dir)
      assert(p1(1L) == 99.0 && p1(100L) == 5.0 && p1.size == 65)

      // multi-change key folds by seq: U then D at higher seq → gone
      input.addData(ch(2, 128, 7.0, "U", seq = 1),
        ch(2, 128, 0.0, "D", seq = 2), ch(3, 192, 8.0, "U", seq = 1))
      q.processAllAvailable()
      val p2 = prices(dir)
      assert(!p2.contains(2L), "the later delete must win the fold")
      assert(p2(3L) == 8.0 && p2.size == 64)
    } finally q.stop()
  }

  test("each batch rewrites only touched units; history stays readable") {
    val dir = freshDir("streamcow_share")
    seed(dir)
    def paths(v: Long) = CowTable.filelist(spark, dir, v)
      .select("path").collect().map(_.getString(0)).toSet
    StreamCow.applyBatch(spark, dir,
      Seq(ch(1, 64, 42.0, "U")).toDF(), batchId = 0L)
    val v0 = paths(0L); val v1 = paths(1L)
    assert((v0 intersect v1).nonEmpty && v1 != v0,
      s"one-key update must share most units (v0=${v0.size} v1=${v1.size})")
    // time travel: the pre-batch version still serves the old price
    val old = CowTable.readVersion(spark, dir, 0L)
      .filter(col("o_orderkey") === 1L).head.getAs[Double]("o_totalprice")
    assert(old == 1.0, s"v0 must keep the pre-CDC row, got $old")
  }

  test("replaying an applied batch short-circuits; crash window is content-idempotent") {
    val dir = freshDir("streamcow_replay")
    seed(dir)
    val b = Seq(ch(5, 320, 50.0, "U"), ch(6, 384, 0.0, "D")).toDF()
    StreamCow.applyBatch(spark, dir, b, batchId = 0L)
    val once = prices(dir)
    val vOnce = graft.lake.TimeTravel.latestVersion(dir).get
    // replay after the _batch pointer write: no new version at all
    StreamCow.applyBatch(spark, dir, b, batchId = 0L)
    assert(graft.lake.TimeTravel.latestVersion(dir).get == vOnce)
    assert(prices(dir) == once)
    // crash BETWEEN table commit and pointer write: drop the pointer and
    // re-apply — a duplicate version may appear but content is identical
    graft.streaming.CommitFiles.rmTree(
      new java.io.File(s"$dir/_batch"))
    StreamCow.applyBatch(spark, dir, b, batchId = 0L)
    assert(prices(dir) == once,
      "re-applying a folded batch must be content-idempotent")
    assert(StreamCow.lastBatch(dir).contains(0L))
  }

  test("an idle (empty) batch advances the pointer without a commit") {
    val dir = freshDir("streamcow_idle")
    seed(dir)
    val empty = Seq.empty[CowChange].toDF()
    StreamCow.applyBatch(spark, dir, empty, batchId = 0L)
    assert(StreamCow.lastBatch(dir).contains(0L))
    assert(graft.lake.TimeTravel.latestVersion(dir).contains(0L),
      "no data, no version churn")
  }

  test("a wiped checkpoint against a branded table fails loudly") {
    val dir = freshDir("streamcow_brand")
    seed(dir)
    val b = Seq(ch(1, 64, 9.0, "U")).toDF()
    StreamCow.applyBatch(spark, dir, b, 0L,
      checkpoint = Some(freshDir("streamcow_ckpt_a")))
    val e = intercept[IllegalStateException] {
      StreamCow.applyBatch(spark, dir, b, 0L,
        checkpoint = Some(freshDir("streamcow_ckpt_b")))
    }
    assert(e.getMessage.toLowerCase.contains("checkpoint"), e.getMessage)
  }
}
