package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared session base: one local session per suite, built by
  * [[graft.core.LocalSession]] like the mains (SURVEY.md §7.1
  * SessionFactory). */
abstract class SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession =
    graft.core.LocalSession(4, getClass.getSimpleName)

  val sfDir = "/root/testdata/sf0.001"

  /** The fixture path for `name`, with anything an earlier run left there
    * deleted: checkpoints and pointers from a previous run would replay
    * stale offsets into a new stream, or short-circuit its batches. */
  def freshDir(name: String): String = {
    val dir = graft.core.Fixtures.path(name)
    graft.streaming.CommitFiles.rmTree(new java.io.File(dir))
    dir
  }

  override def afterAll(): Unit = {
    // keep the shared local JVM session for sibling suites
    super.afterAll()
  }
}
