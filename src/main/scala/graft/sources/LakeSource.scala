package graft.sources

import java.util

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.lake.StreamLake

/** Streaming READ of a [[graft.lake.StreamLake]] table — the Delta-style
  * incremental consumption side of the lake: each micro-batch emits the
  * rows of newly COMMITTED ingest batches (offset = exclusive
  * high-watermark batch id, advanced only to `_latest` + 1, so an
  * uncommitted crash-leftover batch dir is never served), at most
  * `maxBatchesPerTrigger` ingest batches per trigger. Replayable: any
  * [start, end) offset range re-reads the same batch dirs, because
  * committed batches are immutable — except across [[StreamLake.compact]],
  * which REWRITES history at and below its floor. Compaction records that
  * floor in `_compacted`; a checkpointed reader positioned in (0, floor]
  * fails LOUDLY (the folded batch it has yet to read re-contains rows it
  * already consumed — silently continuing would duplicate them), while a
  * fresh reader (offset 0) consumes the compacted snapshot exactly once
  * and a fully caught-up reader (offset > floor) continues. Empty
  * ingest batches are offset gaps with no dirs — skipped, not errors.
  *
  * The partition reader walks the committed parquet files directly with
  * the parquet-hadoop example API (one InputPartition per data file, so
  * read parallelism follows the layout's fid fan-out), reconstructing
  * the dir-encoded `fid`/`batch` columns from the path.
  *
  * Usage:
  * {{{
  * spark.readStream.format("graft.sources.LakeSource")
  *   .option("path", tableDir).option("maxBatchesPerTrigger", "1").load()
  * }}}
  */
class LakeSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    StreamLake.scanSchema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new LakeTable(opts.get("path"),
      Option(opts.get("maxBatchesPerTrigger")).map(_.toInt).getOrElse(1))
  }
}

object LakeSource {
  private[sources] def compactionFloor(dir: String): Long =
    graft.streaming.CommitFiles
      .readPointer(java.nio.file.Paths.get(dir, "_compacted")).getOrElse(0L)

  /** Committed data files of one ingest batch: (path, fid). */
  private[sources] def batchFiles(dir: String, b: Long): Seq[(String, Long)] = {
    val root = new java.io.File(dir, s"batch=$b")
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("fid="))
      .flatMap { fidDir =>
        val fid = fidDir.getName.stripPrefix("fid=").toLong
        Option(fidDir.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isFile && f.getName.endsWith(".parquet"))
          .map(f => (f.getPath, fid))
      }.sortBy(_._1).toSeq
  }
}

private class LakeTable(path: String, maxBatches: Int)
  extends Table with SupportsRead {
  require(maxBatches >= 1,
    s"lake_source: maxBatchesPerTrigger must be >= 1, got $maxBatches " +
      "(0 would stall the stream silently, never advancing its offset)")
  override def name(): String = s"lake($path)"
  override def schema(): StructType = StreamLake.scanSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = StreamLake.scanSchema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new LakeMicroBatchStream(path, maxBatches)
    }
}

private case class LakeOffset(next: Long) extends Offset {
  override def json(): String = next.toString
}

private class LakeMicroBatchStream(path: String, maxBatches: Int)
  extends MicroBatchStream with SupportsTriggerAvailableNow {
  private var availableNowTarget: Option[Long] = None

  private def committedEnd: Long =
    StreamLake.latestVersion(path).map(_ + 1).getOrElse(0L)

  /** After a compaction to batch `floor`, the only valid positions are 0
    * (a fresh reader: the folded batch IS the whole table, consumed
    * exactly once) and beyond the folded batch (a fully caught-up
    * reader). A reader inside (0, floor] consumed SOME pre-compaction
    * batches, and the folded batch it has yet to read re-contains every
    * one of those rows — continuing would duplicate them, so fail
    * loudly. (This is also why initialOffset stays 0: starting a fresh
    * reader AT the floor would be indistinguishable from a resumed
    * reader that consumed batches below it.) */
  private def assertNotFolded(start: Long): Unit = {
    val floor = LakeSource.compactionFloor(path)
    if (start > 0 && start <= floor) throw new IllegalStateException(
      s"lake_source: offset $start is at or below the compaction floor " +
        s"$floor of $path — compaction folded the consumed history into " +
        s"batch=$floor; restart the read with a fresh checkpoint (it will " +
        "consume the compacted snapshot exactly once)")
  }

  override def initialOffset(): Offset = LakeOffset(0L)

  // the per-trigger cap is in ingest BATCHES (dirs), applied directly in
  // latestOffset below — no built-in ReadLimit type models it
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[LakeOffset].next
    assertNotFolded(s)
    val floor = LakeSource.compactionFloor(path)
    val hardEnd = availableNowTarget.getOrElse(committedEnd)
    // a fresh reader on a compacted table consumes the folded region
    // [0, floor] ATOMICALLY (only batch=floor has files): its checkpoint
    // must never land inside (0, floor], where assertNotFolded cannot
    // tell it apart from a resumed pre-compaction reader
    val step = if (s == 0 && floor > 0) floor + 1 else s + maxBatches
    LakeOffset(math.max(s, math.min(hardEnd, step)))
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(committedEnd)

  override def reportLatestOffset(): Offset = LakeOffset(committedEnd)

  override def deserializeOffset(json: String): Offset =
    LakeOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LakeOffset].next
    val e = end.asInstanceOf[LakeOffset].next
    assertNotFolded(s)
    // same guard as the batch read paths: a crashed compact mid-swap has
    // batch dirs in .compact_retiring — planning now would read missing
    // dirs as legally-empty batches and silently drop their rows
    StreamLake.assertNoCompactDebris(path)
    (s until e).flatMap { b =>
      LakeSource.batchFiles(path, b).map { case (file, fid) =>
        LakeFilePartition(file, fid, b)
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => {
      val p = partition.asInstanceOf[LakeFilePartition]
      new PartitionReader[InternalRow] {
        private val reader = org.apache.parquet.hadoop.ParquetReader
          .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
            new org.apache.hadoop.fs.Path(p.file))
          .build()
        private var current: org.apache.parquet.example.data.Group = _
        override def next(): Boolean = {
          current = reader.read()
          current != null
        }
        override def get(): InternalRow = InternalRow(
          current.getLong("o_orderkey", 0),
          current.getLong("o_custkey", 0),
          UTF8String.fromString(current.getString("o_orderstatus", 0)),
          current.getDouble("o_totalprice", 0),
          current.getLong("ck", 0),
          current.getLong("dy", 0),
          current.getLong("zkey", 0),
          p.fid, p.batch)
        override def close(): Unit = reader.close()
      }
    }
}

private case class LakeFilePartition(file: String, fid: Long, batch: Long)
  extends InputPartition
