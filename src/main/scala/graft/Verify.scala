package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // dev convenience: extra args select a query subset; the driver
    // passes exactly two args and gets the full registry
    val subset = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.LocalSession(cpus.toInt, "graft-verify")
    new java.io.File(outDir).mkdirs()
    // A query that throws must surface as an ERROR in the driver's board,
    // not silently vanish from it (round 7: 23 broken queries shrank the
    // board 121→99 with "0 fail"). Two markers, so either driver behavior
    // catches it: an `_ERROR` file inside the query's output dir (poisons
    // any parquet read of that dir), and an errors.json sidecar.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => subset.isEmpty || subset(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
        System.err.println(s"[verify] ERROR $name: $msg")
        errors(name) = msg
        val qDir = Paths.get(s"$outDir/$name")
        Files.createDirectories(qDir)
        Files.writeString(qDir.resolve("_ERROR"), msg)
      }
      // per-query cached intermediates AND localCheckpoint blocks (dedup
      // pipelines, pagerank) die with the query — clearCache() alone
      // leaves checkpoint RDDs pinned (core/Release.scala)
      finally graft.core.Release.storage(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    // Loud but rc=0: a nonzero exit could make the driver discard the
    // whole artifact, hiding the queries that DID pass. The _ERROR
    // markers + errors.json carry the per-query failure signal.
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: " +
        errors.keys.mkString(", "))
    spark.stop()
  }
}
