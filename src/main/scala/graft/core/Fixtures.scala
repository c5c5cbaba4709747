package graft.core

/** Root for deterministic generated fixtures (FIXTURES.md). Lives under
  * `target/` so query builds never mutate the committed tree; overridable
  * via `-Dgraft.fixtures.dir` for environments where the working dir is
  * not the repo root. Oracle SQL interpolates these paths, so engine and
  * DuckDB always read the identical bytes.
  */
object Fixtures {
  val dir: String = sys.props.getOrElse(
    "graft.fixtures.dir",
    sys.props.getOrElse("user.dir", ".") + "/target/fixtures")

  def path(name: String): String = s"$dir/$name"
}

/** Source-file-state fingerprinting for DERIVED fixtures (the lake
  * layouts): any cache derived from a testdata table must be
  * keyed by the table's name/size/mtime walk, never its path alone — the
  * driver regenerates /root/testdata between rounds, and a stale derived
  * dataset at the same path would silently grade against the wrong
  * corpus. */
object SourceState {
  def fingerprint(dir: String, table: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    val base = new java.io.File(dir.replaceFirst("^file:(//)?", "")
      .stripSuffix("/"), s"$table.parquet")
    val state = walk(base).sortBy(_.getPath)
      .map(f => s"${f.getPath}:${f.length}:${f.lastModified}")
      .mkString("\n")
    java.security.MessageDigest.getInstance("MD5")
      .digest(state.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }
}
