package graft.lake

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.core.{Tables => T}
import graft.streaming.CommitFiles

/** StreamLake's contracts: streamed batches yield the same pruned-scan
  * rows as the one-shot batch layout, replay is idempotent, uncommitted
  * batch dirs are invisible, empty batches advance the pointer, pruning
  * skips files at (batch, fid) granularity, and a wiped-checkpoint
  * restart fails loudly. */
class StreamLakeSpec extends SparkSuite {

  private val sf001 = "/root/testdata/sf0.01"

  private def ingest3(out: String): Unit = {
    val orders = T.orders(spark, sf001)
    def ts(c: String) = lit(c).cast("timestamp")
    StreamLake.applyBatch(spark, out,
      orders.filter(col("o_orderdate") < ts("1997-01-01")), 0L)
    StreamLake.applyBatch(spark, out,
      orders.filter(col("o_orderdate") >= ts("1997-01-01") &&
        col("o_orderdate") < ts("1999-01-01")), 1L)
    StreamLake.applyBatch(spark, out,
      orders.filter(col("o_orderdate") >= ts("1999-01-01")), 2L)
  }

  test("streamed layout equals the batch layout under the same predicate") {
    val out = freshDir("streamlake_eq")
    ingest3(out)
    assert(StreamLake.scanAll(spark, out).count() ==
      T.orders(spark, sf001).count())
    val streamed = StreamLake
      .prunedOrders(spark, out, 200L, 399L, 9496L, 9861L)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
    val batchLayout = LakeFixture.ensure(spark, sf001)
    val batch = ZLayout.prunedOrders(spark, batchLayout, 200L, 399L, 9496L, 9861L)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    assert(streamed.count() > 0)
  }

  test("pruning skips files at (batch, fid) granularity") {
    val out = freshDir("streamlake_prune")
    ingest3(out)
    val all = StreamLake.scanAll(spark, out).inputFiles.length
    // dy 9496–9861 is 1996 — entirely inside batch 0, so every batch-1/2
    // file is skipped on top of the fid skip
    val pruned = StreamLake
      .prunedOrders(spark, out, 200L, 399L, 9496L, 9861L).inputFiles
    assert(pruned.nonEmpty && pruned.length < all)
    assert(pruned.forall(_.contains("batch=0")),
      s"1996 predicate must touch only batch 0 files: ${pruned.take(3).mkString}")
  }

  test("local and distributed overlap planning agree on (batch, fid) sets") {
    val out = freshDir("streamlake_planmode")
    ingest3(out)
    val local = StreamLake.prunedOrders(spark, out, 200L, 399L, 9496L, 9861L)
    val localFiles = local.inputFiles.sorted.toSeq
    spark.conf.set(ZLayout.LocalPlanBytesKey, "0")
    try {
      val dist = StreamLake.prunedOrders(spark, out, 200L, 399L, 9496L, 9861L)
      assert(dist.inputFiles.sorted.toSeq == localFiles)
      assert(dist.exceptAll(local).isEmpty && local.exceptAll(dist).isEmpty)
    } finally spark.conf.unset(ZLayout.LocalPlanBytesKey)
  }

  test("replay is idempotent; an uncommitted batch dir is invisible") {
    val out = freshDir("streamlake_replay")
    ingest3(out)
    val once = StreamLake.scanAll(spark, out).count()
    // crash-replay of batch 2: overwrites its own dirs, same pointer
    StreamLake.applyBatch(spark, out,
      T.orders(spark, sf001)
        .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp")), 2L)
    assert(StreamLake.scanAll(spark, out).count() == once)
    assert(StreamLake.latestVersion(out).contains(2L))
    // a crash BETWEEN write and flip: batch=9 exists on disk, pointer
    // still 2 — readers must not see it
    ZLayout.ordersProjection(T.orders(spark, sf001).limit(7))
      .write.partitionBy("fid").parquet(s"$out/batch=9")
    assert(StreamLake.scanAll(spark, out).count() == once)
    assert(StreamLake.manifest(spark, out)
      .filter(col("batch") === 9L).count() == 0)
  }

  test("an empty batch advances the pointer without writing dirs") {
    val out = freshDir("streamlake_empty")
    StreamLake.applyBatch(spark, out, T.orders(spark, sf001).limit(0), 0L)
    assert(StreamLake.latestVersion(out).contains(0L))
    assert(StreamLake.scanAll(spark, out).count() == 0)
    assert(StreamLake.manifest(spark, out).count() == 0)
    // and ingest proceeds on top
    StreamLake.applyBatch(spark, out, T.orders(spark, sf001).limit(10), 1L)
    assert(StreamLake.scanAll(spark, out).count() == 10)
  }

  test("compact folds all batches into one, preserving rows and pruning") {
    val out = freshDir("streamlake_compact")
    ingest3(out)
    val before = StreamLake.scanAll(spark, out)
      .select(col("o_orderkey"), col("ck"), col("dy")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val filesBefore = StreamLake.scanAll(spark, out).inputFiles.length
    StreamLake.compact(spark, out)
    val after = StreamLake.scanAll(spark, out)
      .select(col("o_orderkey"), col("ck"), col("dy")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(after == before, "compaction must preserve every row exactly")
    assert(StreamLake.scanAll(spark, out).inputFiles.length < filesBefore)
    // one batch dir remains; pruning still works; ingest continues
    assert(StreamLake.manifest(spark, out)
      .select(col("batch").cast("long")).distinct().count() == 1)
    assert(StreamLake.prunedOrders(spark, out, 200L, 399L, 9496L, 9861L)
      .count() > 0)
    StreamLake.applyBatch(spark, out, T.orders(spark, sf001).limit(5), 3L)
    assert(StreamLake.scanAll(spark, out).count() == before.length + 5)
  }

  test("a crashed compact heals: rollback when data never moved, forward after") {
    val out = freshDir("streamlake_heal")
    ingest3(out)
    val want = StreamLake.scanAll(spark, out).count()
    // CRASH A — retire done, staging full, nothing moved in: simulate by
    // staging a copy and retiring the live dirs by hand
    val staging = s"$out/.compact_staging"
    val retiring = s"$out/.compact_retiring"
    StreamLake.scanAll(spark, out).drop("batch")
      .withColumn("fid", col("fid").cast("long"))
      .write.partitionBy("fid").parquet(s"$staging/batch=2")
    Files.createDirectories(Paths.get(retiring))
    for (b <- 0 to 2) {
      Files.move(Paths.get(s"$out/batch=$b"), Paths.get(s"$retiring/batch=$b"))
      Files.move(Paths.get(s"$out/_manifest/batch=$b"),
        Paths.get(s"$retiring/m_batch=$b"))
    }
    StreamLake.healCompact(out)
    assert(StreamLake.scanAll(spark, out).count() == want,
      "rollback must restore the pre-compaction table")
    assert(!Files.exists(Paths.get(staging)) && !Files.exists(Paths.get(retiring)))
    // CRASH B — data moved in, manifest still staged: roll forward
    StreamLake.compact(spark, out) // get to the compacted single-batch state
    val compacted = StreamLake.scanAll(spark, out).count()
    Files.createDirectories(Paths.get(staging))
    Files.move(Paths.get(s"$out/_manifest/batch=2"),
      Paths.get(s"$staging/m_batch=2"))
    Files.createDirectories(Paths.get(retiring)) // empty leftovers
    StreamLake.healCompact(out)
    assert(StreamLake.scanAll(spark, out).count() == compacted)
    assert(StreamLake.manifest(spark, out).count() > 0,
      "roll-forward must finish the manifest move")
    assert(StreamLake.prunedOrders(spark, out, 200L, 399L, 9496L, 9861L)
      .count() > 0)
  }

  test("reads fail loudly while crashed-compact debris is on disk") {
    val out = freshDir("streamlake_debris")
    ingest3(out)
    // simulate the worst crash state: retire done, staging full — without
    // a guard this reads as a committed table with ZERO rows
    val retiring = s"$out/.compact_retiring"
    Files.createDirectories(Paths.get(s"$out/.compact_staging/batch=2"))
    Files.createDirectories(Paths.get(retiring))
    for (b <- 0 to 2)
      Files.move(Paths.get(s"$out/batch=$b"), Paths.get(s"$retiring/batch=$b"))
    for (m <- Seq("scanAll", "manifest", "prunedOrders")) {
      val e = intercept[IllegalStateException] {
        m match {
          case "scanAll"  => StreamLake.scanAll(spark, out)
          case "manifest" => StreamLake.manifest(spark, out)
          case _ => StreamLake.prunedOrders(spark, out, 0L, 1L, 0L, 1L)
        }
      }
      assert(e.getMessage.contains("healCompact"), s"$m: ${e.getMessage}")
    }
    // the named remedy repairs it, after which reads work again
    StreamLake.healCompact(out)
    assert(StreamLake.scanAll(spark, out).count() > 0)
  }

  test("the compaction floor is staged: a healed roll-forward installs it") {
    val out = freshDir("streamlake_floorstage")
    ingest3(out)
    val want = StreamLake.scanAll(spark, out).count()
    // CRASH: data + manifest moved in, floor still staged (the state the
    // post-swap floor write used to leave floor-LESS — a LakeSource
    // checkpoint in (0,2] would then silently re-read the folded batch)
    StreamLake.compact(spark, out)
    Files.delete(Paths.get(s"$out/_compacted")) // as if the floor move never ran
    Files.createDirectories(Paths.get(s"$out/.compact_staging"))
    CommitFiles.atomicWrite(
      Paths.get(s"$out/.compact_staging/_compacted"), "2")
    StreamLake.healCompact(out)
    assert(Files.readString(Paths.get(s"$out/_compacted")).trim == "2",
      "roll-forward must install the staged floor")
    assert(StreamLake.scanAll(spark, out).count() == want)
  }

  test("a rolled-back compaction drops the staged floor — old floor stands") {
    val out = freshDir("streamlake_floorback")
    ingest3(out)
    val want = StreamLake.scanAll(spark, out).count()
    // CRASH before any swap move: staging holds data + the staged floor;
    // rollback must NOT install the floor (nothing was folded)
    val staging = s"$out/.compact_staging"
    StreamLake.scanAll(spark, out).drop("batch")
      .withColumn("fid", col("fid").cast("long"))
      .write.partitionBy("fid").parquet(s"$staging/batch=2")
    CommitFiles.atomicWrite(Paths.get(s"$staging/_compacted"), "2")
    StreamLake.healCompact(out)
    assert(!Files.exists(Paths.get(s"$out/_compacted")),
      "rollback must not leave a floor for a fold that never went live")
    assert(StreamLake.scanAll(spark, out).count() == want)
  }

  test("a REAL stream with a mid-stream restart lands every row exactly once") {
    val out = freshDir("streamlake_e2e")
    val ckpt = freshDir("streamlake_e2e_ck")
    val srcDir = freshDir("streamlake_e2e_src")
    Files.createDirectories(Paths.get(srcDir))
    val orders = T.orders(spark, sf001).limit(300)
    val schema = orders.schema
    def addChunk(i: Int): Unit = {
      val tmp = freshDir(s"streamlake_e2e_stage$i")
      orders.filter(col("o_orderkey") % 3 === i).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = Paths.get(srcDir, f"c$i%02d.parquet")
      Files.move(part.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    def stream() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)

    addChunk(0); addChunk(1)
    val q1 = StreamLake.start(stream(), out, ckpt)
    try q1.processAllAvailable() finally q1.stop()
    val mid = StreamLake.scanAll(spark, out).count()
    assert(mid == orders.filter(col("o_orderkey") % 3 < 2).count())

    addChunk(2) // restart from the same checkpoint picks up only chunk 2
    val q2 = StreamLake.start(stream(), out, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    val keys = StreamLake.scanAll(spark, out)
      .select(col("o_orderkey")).collect().map(_.getLong(0)).sorted.toSeq
    assert(keys == orders.select(col("o_orderkey"))
      .collect().map(_.getLong(0)).sorted.toSeq,
      "streamed table != source rows exactly once")
  }

  test("a wiped-checkpoint restart against a committed dir fails loudly") {
    val out = freshDir("streamlake_brand")
    val ck1 = freshDir("streamlake_ck1")
    Files.createDirectories(Paths.get(ck1))
    Files.writeString(Paths.get(ck1, "metadata"), """{"id":"aaaa-1111"}""")
    StreamLake.applyBatch(spark, out, T.orders(spark, sf001).limit(5), 0L,
      checkpoint = Some(ck1))
    val ck2 = freshDir("streamlake_ck2")
    Files.createDirectories(Paths.get(ck2))
    Files.writeString(Paths.get(ck2, "metadata"), """{"id":"bbbb-2222"}""")
    val err = intercept[IllegalStateException] {
      StreamLake.applyBatch(spark, out, T.orders(spark, sf001).limit(5), 0L,
        checkpoint = Some(ck2))
    }
    assert(err.getMessage.toLowerCase.contains("checkpoint"))
  }
}
