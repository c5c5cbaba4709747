package graft.core

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession

/** Plumbing for datasets DERIVED from a testdata table (the lake
  * layouts): built under
  * `<root>/<md5(sourceDir)>/<sourceFingerprint>-<layoutTag>`, STAGED
  * (written into a `.tmp-` sibling, atomic rename into place) so a
  * crash mid-build can never leave a partial fixture a later session
  * accepts as complete, and SWEPT (stale fingerprints and orphaned temp
  * dirs under the same source-dir key are deleted on every re-derive)
  * so rewritten testdata cannot leak one orphan directory per
  * regeneration — across JVM restarts, not just within one session's
  * in-memory map. Keying by source-dir first keeps one source's
  * re-derive from evicting another's (sf0.01 and sf0.1 coexist). */
private[graft] object DerivedFixture {
  /** Roots whose pre-keyDir migration sweep already ran this JVM. */
  private val sweptRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  /** Entries younger than this survive the migration sweep — long
    * enough that anything it deletes cannot be a live writer's. */
  private val SweepGraceMs = 6L * 3600 * 1000
}

private[graft] abstract class DerivedFixture(root: String, table: String) {
  private val live = scala.collection.mutable.Map.empty[String, (String, String)]

  /** Build the fixture content at `target` (a staging path). */
  protected def build(s: SparkSession, sourceDir: String, target: String): Unit

  /** Bump when the derivation itself changes (e.g. a layout knob): the
    * tag joins the source fingerprint in the path, so a code change can
    * never silently reuse a layout built by older code. */
  protected def layoutTag: String = "v1"

  private def dirKey(d: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)

  def ensure(s: SparkSession, d: String): String = synchronized {
    val dir = d.replaceFirst("^file:(//)?", "").stripSuffix("/")
    val fp = SourceState.fingerprint(dir, table) + s"-$layoutTag"
    live.get(dir) match {
      case Some((oldFp, p)) if oldFp == fp && new java.io.File(p).exists() => p
      case _ =>
        val keyDir = Fixtures.path(root) + s"/${dirKey(dir)}"
        val p = s"$keyDir/$fp"
        // migration sweep: fixtures written before the keyDir layout
        // (root/<fp> instead of root/<dirKey>/<fp>-tag) sit directly
        // under root, outside every keyDir, and would otherwise leak
        // one orphan per historical fingerprint forever — drop any
        // root child that is not a 12-hex keyDir. ONCE per JVM per
        // root (not on every cache-miss ensure), and only entries
        // older than a grace window: a concurrent JVM running
        // pre-keyDir code, or any tool staging data under the root,
        // must not have a LIVE directory deleted out from under it —
        // genuine migration debris is by definition old.
        if (!DerivedFixture.sweptRoots.contains(Fixtures.path(root))) {
          val cutoff = System.currentTimeMillis() - DerivedFixture.SweepGraceMs
          // per-entry try: one transient delete failure must not abort
          // the rest of the sweep; the root is marked swept only AFTER
          // a fully-clean pass, so a partial sweep retries on the next
          // ensure() instead of leaking debris for the JVM's lifetime
          val allOk = Option(new java.io.File(Fixtures.path(root)).listFiles())
            .getOrElse(Array.empty)
            .filterNot(_.getName.matches("[0-9a-f]{12}"))
            .filter(_.lastModified < cutoff)
            .map { f =>
              // rmTree's File.delete() fails SILENTLY (returns false),
              // so success is judged by post-delete existence, not by
              // the absence of an exception
              val ok =
                try { graft.streaming.CommitFiles.rmTree(f); !f.exists() }
                catch { case scala.util.control.NonFatal(_) => false }
              if (!ok) System.err.println(
                s"[fixtures] sweep of $f incomplete (will retry next ensure)")
              ok
            }.forall(identity)
          if (allOk) DerivedFixture.sweptRoots.add(Fixtures.path(root))
        }
        // cross-session reuse: a COMPLETE build from a previous JVM is
        // valid iff it matches the current source fingerprint (the
        // atomic rename below is what makes existence imply complete)
        if (!new java.io.File(p).exists()) {
          Option(new java.io.File(keyDir).listFiles()).getOrElse(Array.empty)
            .foreach(f => graft.streaming.CommitFiles.rmTree(f)) // stale fps + orphan tmps
          val tmp = s"$keyDir/.tmp-$fp"
          build(s, dir, tmp)
          Files.move(Paths.get(tmp), Paths.get(p), StandardCopyOption.ATOMIC_MOVE)
        }
        live(dir) = (fp, p)
        p
    }
  }
}
