package graft.core

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSuite}

/** The fault-tolerance contract of the iterative operators: with
  * `spark.graft.checkpointDir` configured, every lineage cut goes through
  * a reliable `checkpoint()` into that directory (survives executor
  * decommission — the autoscaling steady state), and the results are
  * bit-identical to the local fast path. */
class MaterializeSpec extends SparkSuite {

  private def rddFiles(base: Path): Seq[Path] = {
    if (!Files.exists(base)) return Nil
    val out = Seq.newBuilder[Path]
    Files.walk(base).forEach(p => if (p.getFileName.toString.startsWith("part-")) out += p)
    out.result()
  }

  test("cut uses the reliable checkpoint when the dir conf is set") {
    val tmp = Files.createTempDirectory("graft-ckpt-")
    val sess = spark.newSession()
    sess.conf.set(Materialize.ConfKey, tmp.toString)
    // other suites share this context and may hold their own caches —
    // only NEW pins are this test's business
    val pinnedBefore = sess.sparkContext.getPersistentRDDs.keySet
    val df = sess.range(1000).select(col("id"), (col("id") * 2).as("v"))
    val cut = Materialize.cut(df)
    // populated: the reliable writer laid partition files under the dir
    assert(rddFiles(tmp).nonEmpty, s"no checkpoint part files under $tmp")
    // lineage truncated: the cut frame reads materialized rows, not the
    // original range — no Range leaf survives in the optimized plan
    val plan = cut.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Range "), s"lineage not truncated:\n$plan")
    assert(cut.count() === 1000)
    // the persist guard released its cache once the files existed
    assert(sess.sparkContext.getPersistentRDDs.keySet == pinnedBefore,
      "cut left the checkpoint-guard cache pinned")
  }

  test("dedup_clusters and graph_pagerank run reliably-checkpointed, same rows") {
    val tmp = Files.createTempDirectory("graft-ckpt-loop-")
    val sess = spark.newSession()
    sess.conf.set(Materialize.ConfKey, tmp.toString)
    // sf0.01 — the same fixture the driver's correctness gate runs, so
    // this is the REGISTRY path (multi-round loops, real shingle join)
    // under the cluster-mode config, not a toy
    val d = "/root/testdata/sf0.01"
    // dedup_clusters' label loop is the thing that must checkpoint
    // reliably in cluster mode — drive it directly
    val loops: Seq[(String, org.apache.spark.sql.SparkSession => Array[org.apache.spark.sql.Row])] = Seq(
      "dedup_clusters label build" ->
        ((ss: org.apache.spark.sql.SparkSession) =>
          graft.llm.Dedup.clusterLabels(ss, d)
            .orderBy(org.apache.spark.sql.functions.col("doc_id")).collect()),
      "graph_pagerank" ->
        ((ss: org.apache.spark.sql.SparkSession) =>
          SparkEntry.queries("graph_pagerank")(ss, d).collect()))
    loops.foreach { case (name, run) =>
      val before = rddFiles(tmp).size
      val reliable = run(sess)
      assert(rddFiles(tmp).size > before,
        s"$name cut no lineage through the reliable dir")
      val local = run(spark)
      assert(reliable.toSeq === local.toSeq, s"$name diverged between modes")
      Release.storage(sess)
      Release.storage(spark)
    }
  }
}
