package graft.core

import graft.{SparkEntry, SparkSuite}

/** The storage contract behind the bench fix: after Release.storage, NO
  * persisted block survives — neither Dataset caches nor localCheckpoint
  * RDDs (which clearCache() alone leaves pinned; accumulated blocks once
  * inflated late-sequence bench timings up to 48x). */
class ReleaseSpec extends SparkSuite {

  test("storage-pinning queries leave zero persistent RDDs after release") {
    // one representative per pinning mechanism: localCheckpoint loops
    // (pagerank) and cached self-join intermediates (semdedup,
    // tf-cosine). dedup_clusters' label loop storage is exercised
    // through clusterLabels in MaterializeSpec.
    Seq("graph_pagerank", "dedup_semdedup", "dedup_tf_cosine").foreach { name =>
      SparkEntry.queries(name)(spark, sfDir).collect()
      // the query genuinely pinned something — otherwise this spec tests
      // nothing and should be pointed at a different query
      assert(spark.sparkContext.getPersistentRDDs.nonEmpty, s"$name pinned nothing")
      Release.storage(spark)
      // the contract is RDD/cache storage; small broadcast blocks remain
      // until the ContextCleaner GCs them and are bounded, not cumulative
      assert(spark.sparkContext.getPersistentRDDs.isEmpty,
        s"$name left persistent RDDs after Release.storage")
    }
  }
}
