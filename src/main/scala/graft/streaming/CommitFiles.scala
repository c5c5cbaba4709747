package graft.streaming

import java.nio.file.{FileAlreadyExistsException, FileSystemException, Files, Path, Paths, StandardCopyOption, StandardOpenOption}

/** The exactly-once commit protocol of graft's plain-parquet layouts:
  * the one place that knows the order and the files of a commit.
  *
  * Batch commit ([[commitBatch]]), used by the `foreachBatch` sinks
  * [[StreamMerge]], `lake.StreamLake`, [[StreamIndex]], [[StreamIvf]],
  * [[StreamCurate]] and [[StreamCow]]. Idempotence is keyed on the
  * batchId (Structured Streaming's exactly-once sink contract):
  *   1. claim the output dir's lineage brand (`_checkpoint`; StreamCow's
  *      `_cow_checkpoint`) for the query's checkpoint, or fail loudly if
  *      another lineage owns it — a fresh checkpoint restarts batchIds at
  *      0, and step 2 would then silently drop every replayed batch;
  *   2. return if the pointer (`_latest`; StreamCow's `_batch`) already
  *      covers the batchId — a replay after the flip;
  *   3. run the sink's publish body, which overwrites only this batch's
  *      own files, so a replay after a crash before the flip rewrites
  *      them and readers (which stop at the pointer) never see them;
  *   4. flip the pointer by atomic rename, unless the body declined: an
  *      idle trigger of a sink whose readers would otherwise open a
  *      version dir that was never written.
  *
  * Staged compaction ([[stagedCompaction]]), used by `llm.IvfIndex.compact`
  * (`assign/`), `llm.PostingsIndex.compact` (`postings/`),
  * [[StreamIndex.compact]] (`postings/`, `doclen/`) and
  * [[StreamCurate.compact]] (`fps/`, `verdicts/`):
  *   1. heal what a crashed swap left: a live dir missing while its
  *      `<live>_retiring` sibling exists is rolled back, and leftover
  *      `<live>_retiring` / `<live>_compacting` dirs are deleted;
  *   2. fingerprint live's parquet file set ([[partSet]]);
  *   3. the body writes the compacted copy into `<live>_compacting`;
  *   4. if live's file set changed meanwhile (a concurrent writer), drop
  *      the staging dir and fail loudly without swapping;
  *   5. swap by two renames (live → `<live>_retiring`, staging → live)
  *      and delete the retired copy. A reader between the renames can see
  *      live missing — the maintenance window of this layout; a crash
  *      anywhere leaves a state step 1 repairs on the next run. */
private[graft] object CommitFiles {

  /** The pointer and brand file names unless a sink names its own. */
  private val Pointer = "_latest"
  private val Brand = "_checkpoint"

  /** Committed pointer value, if any batch has flipped it. */
  def readPointer(p: Path): Option[Long] =
    if (Files.exists(p)) Some(Files.readString(p).trim.toLong) else None

  /** Highest batch committed under `dir`'s `pointer` file, if any. */
  def committed(dir: String, pointer: String = Pointer): Option[Long] =
    readPointer(Paths.get(dir, pointer))

  /** Pointer flip via temp-file + ATOMIC_MOVE: readers see either the
    * old value or the new one, never a torn write. */
  def atomicWrite(path: Path, content: String): Unit = {
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    Files.createDirectories(path.getParent)
    Files.writeString(tmp, content)
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete()
  }

  /** The parquet part-file set under `p` — the cheap fingerprint a
    * compaction takes before its read and re-checks before its swap to
    * detect a concurrent writer. */
  def partSet(p: Path): Set[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    walk(p.toFile).map(_.getPath).filter(_.endsWith(".parquet")).toSet
  }

  /** One micro-batch of a sink under `dir` (protocol steps 1–4 above).
    * `publish` writes the batch and returns whether to flip the pointer.
    * Returns whether this call flipped it. `who` prefixes the failure
    * messages (e.g. "stream_merge"). */
  def commitBatch(dir: String, who: String, batchId: Long,
      checkpoint: Option[String], pointer: String = Pointer,
      brand: String = Brand)(publish: => Boolean): Boolean = {
    checkpoint.map(lineageId).foreach(ck =>
      claimOrAssert(Paths.get(dir, brand), ck, who))
    if (committed(dir, pointer).exists(_ >= batchId)) false
    else if (!publish) false
    else { atomicWrite(Paths.get(dir, pointer), batchId.toString); true }
  }

  /** Compact the directory `live` (protocol steps 1–5 above): `write`
    * receives the staging path to write the compacted copy into. The
    * concurrent-writer failure reads "`who`: <live name>/ changed while
    * compacting (`cause`) — aborted without swapping; `remedy`". */
  def stagedCompaction(live: Path, who: String, cause: String,
      remedy: String)(write: Path => Unit): Unit = {
    healSwap(live)
    val before = partSet(live)
    write(staging(live))
    if (partSet(live) != before) {
      rmTree(staging(live).toFile)
      throw new IllegalStateException(s"$who: ${live.getFileName}/ changed " +
        s"while compacting ($cause) — aborted without swapping; $remedy")
    }
    swapDir(live)
  }

  private def retiring(live: Path) =
    live.resolveSibling(live.getFileName.toString + "_retiring")

  private def staging(live: Path): Path =
    live.resolveSibling(live.getFileName.toString + "_compacting")

  private def healSwap(live: Path): Unit = {
    val old = retiring(live)
    if (!Files.exists(live) && Files.exists(old)) Files.move(old, live)
    if (Files.exists(old)) rmTree(old.toFile)
    if (Files.exists(staging(live))) rmTree(staging(live).toFile)
  }

  private def swapDir(live: Path): Unit = {
    val old = retiring(live)
    Files.move(live, old)
    Files.move(staging(live), live)
    rmTree(old.toFile)
  }

  /** The lineage identity of a checkpoint: its QUERY ID (the uuid Spark
    * writes to `<checkpoint>/metadata`, stable across restarts of one
    * lineage but regenerated when a checkpoint is wiped) — branding on
    * the PATH alone would pass after a wipe-and-recreate at the same
    * path, and the restarted batchIds would then short-circuit on the
    * committed version and silently drop every batch. Path (normalized:
    * scheme prefix and trailing slashes stripped, so equivalent
    * spellings can't false-positive) is the fallback when metadata is
    * unreadable. */
  private def lineageId(ck: String): String = {
    def norm(p: String) = p.replaceFirst("^file:(//)?", "").stripSuffix("/")
    val meta = Paths.get(norm(ck), "metadata")
    if (Files.exists(meta)) Files.readString(meta).trim else norm(ck)
  }

  /** Claim brand file `b` for lineage `ck`, or assert it already carries
    * exactly that lineage. */
  private def claimOrAssert(b: Path, ck: String, who: String): Unit = {
    def assertBranded(): Unit = {
      // a CREATE_NEW-fallback claimant's bytes land one write after the
      // open — tolerate a transiently empty brand before declaring a
      // mismatch (the hard-link path never exposes this window)
      var branded = Files.readString(b).trim
      var spins = 0
      while (branded.isEmpty && spins < 100) {
        Thread.sleep(10)
        branded = Files.readString(b).trim
        spins += 1
      }
      // an empty brand after the spin is not a lineage mismatch: a
      // CREATE_NEW-fallback claimant crashed between opening the brand
      // file and writing its bytes — name the actual remedy instead of
      // the generic wipe-everything one
      if (branded.isEmpty) throw new IllegalStateException(
        s"$who: brand file $b is empty — a previous claimant " +
          "likely crashed between creating and writing it; delete that " +
          "file (only it) to let the next query re-claim the output dir")
      if (branded != ck) throw new IllegalStateException(
        s"$who: output dir ${b.getParent} belongs to checkpoint lineage " +
          s"'$branded' but this query runs from '$ck' — batchIds would " +
          "collide with the committed versions and silently drop data; " +
          "wipe the output dir together with its checkpoint")
    }
    if (Files.exists(b)) assertBranded()
    else {
      // claim the brand atomically IN CONTENT as well as existence:
      // write a unique temp file, then hard-LINK it to the brand path —
      // link(2) fails if the target exists and the link carries the
      // complete content the instant it appears. A plain CREATE_NEW
      // write would let the loser read the winner's file before its
      // bytes land and die on a spurious ""-lineage mismatch, and
      // ATOMIC_MOVE is rename(2) on POSIX, which silently REPLACES.
      // Filesystems without link(2) (CIFS/FAT/object-store mounts)
      // fall back to CREATE_NEW — existence-atomic, with the reader
      // spin in assertBranded covering the open-to-write gap.
      Files.createDirectories(b.getParent)
      // a crash between the tmp write and the finally leaks the tmp;
      // sweep stale ones (old enough to not belong to a live claimant)
      val listing = Files.list(b.getParent)
      try listing.forEach { p =>
        val n = p.getFileName.toString
        if (n.startsWith(s"${b.getFileName}.") && n.endsWith(".tmp") &&
          Files.getLastModifiedTime(p).toMillis <
            System.currentTimeMillis() - 3600000L)
          Files.deleteIfExists(p)
      } finally listing.close()
      val tmp = b.resolveSibling(
        s"${b.getFileName}.${java.util.UUID.randomUUID()}.tmp")
      Files.writeString(tmp, ck)
      try Files.createLink(b, tmp)
      catch {
        case _: FileAlreadyExistsException => assertBranded()
        case _: UnsupportedOperationException | _: FileSystemException =>
          try Files.write(b, ck.getBytes("UTF-8"),
            StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
          catch { case _: FileAlreadyExistsException => assertBranded() }
      }
      finally Files.deleteIfExists(tmp)
    }
  }
}
