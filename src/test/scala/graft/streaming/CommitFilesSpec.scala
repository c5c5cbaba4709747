package graft.streaming

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** The staged-compaction protocol's concurrent-writer abort, on plain
  * files: a parquet file that lands in the live dir between the
  * fingerprint and the re-check must stop the swap. */
class CommitFilesSpec extends AnyFunSuite {

  private def touch(p: Path): Path = {
    Files.createDirectories(p.getParent)
    Files.writeString(p, "x")
  }

  test("a staged compaction aborts when the live dir changes under it") {
    val live = Files.createTempDirectory("graft_commitfiles").resolve("assign")
    touch(live.resolve("batch=0/part-0.parquet"))
    val late = live.resolve("batch=1/part-1.parquet")
    var staged: Option[Path] = None
    val e = intercept[IllegalStateException] {
      CommitFiles.stagedCompaction(live, "spec", "a concurrent append?",
          "re-run in an ingest pause") { staging =>
        staged = Some(staging)
        touch(staging.resolve("part-c.parquet"))
        touch(late) // a writer commits between fingerprint and re-check
      }
    }
    assert(e.getMessage.startsWith("spec: assign/ changed while compacting " +
      "(a concurrent append?) — aborted without swapping"), e.getMessage)
    assert(CommitFiles.partSet(live) == Set(
      live.resolve("batch=0/part-0.parquet").toString, late.toString),
      "live must keep its own files and the concurrent writer's")
    assert(staged.exists(s => !Files.exists(s)), "the staging dir must be dropped")
    assert(!Files.exists(live.resolveSibling("assign_retiring")))
  }
}
