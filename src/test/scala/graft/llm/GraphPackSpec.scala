package graft.llm

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSuite}

/** Invariants for the round-4 additions: PageRank fixed-point iteration,
  * two-phase sequence packing, and schema-driven profiling. */
class GraphPackSpec extends SparkSuite {

  test("pagerank: positive ranks, near-conserved mass, determinism") {
    val df = SparkEntry.queries("graph_pagerank")(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("rank_scaled") > 0))
    // fixed-point truncation only ever LOSES mass: total <= 1e12, and the
    // loss is bounded by ~(#divisions) ulps — far under 0.1% here
    val total = rows.map(_.getAs[Long]("rank_scaled")).sum
    assert(total <= 1000000000000L, s"mass created: $total")
    assert(total > 999000000000L, s"mass lost beyond truncation bound: $total")
    val again = SparkEntry.queries("graph_pagerank")(spark, sfDir).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      again.map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }

  test("pagerank: node set equals the jaccard>=0.3 pair graph's nodes") {
    val nodes = SparkEntry.queries("graph_pagerank")(spark, sfDir)
      .select("node").collect().map(_.getLong(0)).toSet
    val pairNodes = Dedup.jaccardPairs(spark, sfDir)
      .filter(col("jaccard") >= 0.3).collect()
      .flatMap(r => Seq(r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(nodes == pairNodes)
  }

  test("graph pairs memo: equals direct derivation and invalidates on rewrite") {
    val sess = spark
    import sess.implicits._
    val dir = graft.core.Fixtures.path("graphmemoinv")
    def write(texts: Seq[String]): Unit =
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s1") }
        .toDF("doc_id", "text", "lang", "source")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def direct() = Dedup.jaccardPairs(spark, dir)
      .filter(col("jaccard") >= 0.3)
      .select(explode(array(col("doc_a"), col("doc_b"))).as("n"))
      .collect().map(_.getLong(0)).sorted.toSeq
    def viaQuery() = SparkEntry.queries("graph_degree_dist")(spark, dir)
      .select((col("degree") * col("n")).as("dsum"))
      .collect().map(_.getLong(0)).sum
    // two near-dup docs -> one edge; the query sees it
    val nearDup = "the quick brown fox jumps over the lazy dog again and again today"
    write(Seq(nearDup, nearDup + " x", "completely unrelated words about spark shuffles"))
    assert(direct().distinct.length == 2)
    assert(viaQuery() == 2L, "edge set missed the near-dup pair")
    // rewrite the SAME path with no near-dups: the query must read the
    // new source, not serve stale edges
    write(Seq("alpha beta gamma delta words one", "totally different content here now",
      "third doc shares nothing either way"))
    assert(direct().isEmpty)
    assert(viaQuery() == 0L, "stale edges served after the fixture was rewritten")
  }

  test("triangles: per-node counts equal a brute-force enumeration") {
    // sf0.001's pair graph may hold no triangle; grade on sf0.01 where
    // near-dup clusters of >= 3 docs exist (3 corner rows verified)
    val dir = "/root/testdata/sf0.01"
    val edges = Dedup.jaccardPairs(spark, dir)
      .filter(col("jaccard") >= 0.3)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupMap(_._1)(_._2)
    val expected = collection.mutable.Map.empty[Long, Long]
    for {
      (a, b) <- edges
      c <- adj(a) if c > b && edges.contains((b, c))
    } Seq(a, b, c).foreach(n => expected(n) = expected.getOrElse(n, 0L) + 1L)
    val got = SparkEntry.queries("graph_triangles")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected.toMap, s"got $got expected $expected")
    assert(got.nonEmpty, "fixture grew no triangles — test lost its teeth")
  }

  test("profile_drift: halves partition the stream, psi terms non-negative") {
    val df = SparkEntry.queries("profile_drift")(spark, sfDir).cache()
    try {
      val rows = df.collect()
      assert(rows.nonEmpty)
      // (p_b − p_a) and ln(p_b/p_a) always share a sign, so every PSI
      // term is >= 0 — a negative one means the formula desynced
      assert(rows.forall(_.getAs[Double]("psi_term") >= 0.0))
      // the two halves partition the events exactly
      val total = rows.map(r => r.getAs[Long]("n_a") + r.getAs[Long]("n_b")).sum
      assert(total === graft.core.Tables.events(spark, sfDir).count())
      // smoothed probabilities are distributions: each side sums to 1
      val sa = rows.map(_.getAs[Double]("p_a")).sum
      val sb = rows.map(_.getAs[Double]("p_b")).sum
      assert(math.abs(sa - 1.0) < 1e-9 && math.abs(sb - 1.0) < 1e-9, (sa, sb))
    } finally df.unpersist()
  }

  test("pack_sequences: contiguous offsets, conserved tokens, stable ids") {
    val rows = SparkEntry.queries("pack_sequences")(spark, sfDir).collect()
    val total = rows.map(_.getAs[Long]("n_tokens")).sum
    val byOffset = rows.sortBy(_.getAs[Long]("offset"))
    assert(byOffset.head.getAs[Long]("offset") == 0L)
    // each doc starts exactly where the previous one ended (no gaps/overlap)
    byOffset.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("offset") + a.getAs[Long]("n_tokens") ==
          b.getAs[Long]("offset"))
      case _ =>
    }
    assert(byOffset.last.getAs[Long]("offset") +
      byOffset.last.getAs[Long]("n_tokens") == total)
    assert(rows.forall(r =>
      r.getAs[Long]("pack_id") == r.getAs[Long]("offset") / 2048L))
    // membership is a pure function of doc_id, not partitioning: re-run
    // with a different shuffle layout
    val again = SparkEntry.queries("pack_sequences")(spark, sfDir)
      .repartition(7).collect()
    assert(rows.map(r => (r.getLong(0), r.getAs[Long]("pack_id"))).toSet ==
      again.map(r => (r.getLong(0), r.getAs[Long]("pack_id"))).toSet)
  }

  test("pack_sequences plan: doc window is bucket-partitioned, offsets broadcast") {
    val df = SparkEntry.queries("pack_sequences")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the corpus-sized window must be keyed by bucket (parallel), never a
    // global-order single partition; the 256-row offset table comes back
    // as a broadcast
    assert(plan.contains("windowspecdefinition(bucket"), plan.take(1500))
    assert(plan.contains("BroadcastExchange"), plan.take(1500))
  }

  test("emb_centroid_stats: cosines bounded, every label present") {
    val rows = SparkEntry.queries("emb_centroid_stats")(spark, sfDir).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val (mn, mean, mx) = (r.getAs[Double]("min_cos"),
        r.getAs[Double]("mean_cos"), r.getAs[Double]("max_cos"))
      assert(mn <= mean && mean <= mx)
      assert(mn >= -1.0001 && mx <= 1.0001)
      assert(r.getAs[Double]("centroid_norm") > 0.0)
    }
    val total = rows.map(_.getAs[Long]("n_vecs")).sum
    assert(total == graft.core.Tables.embeddings(spark, sfDir).count())
  }

  test("LPA splits the barbell graph CC reports as one component") {
    // two triangles {0,1,2} and {3,4,5} joined by the single bridge edge
    // 2–3: connected components say ONE cluster; LPA must say TWO
    // communities split exactly at the bridge (the operator's reason to
    // exist). Hand-traced under the pinned (count DESC, label ASC)
    // tie-break: after 3 sync rounds {0,1,2} carry label 0 and {3,4,5}
    // carry label 2 — asserted exactly, so any tie-break or round-order
    // drift fails loudly.
    val sess = spark
    import sess.implicits._
    val undirected = Seq((0L, 1L), (0L, 2L), (1L, 2L),
      (3L, 4L), (3L, 5L), (4L, 5L), (2L, 3L))
    val edges = (undirected ++ undirected.map(_.swap))
      .toDF("src", "dst")
    val got = GraphOps.lpaOnEdges(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      3L -> 2L, 4L -> 2L, 5L -> 2L), s"got $got")
    assert(got.values.toSet.size == 2,
      "the barbell must split into exactly two communities")
  }

  test("modularity terms on the barbell are the hand-computed constants") {
    // same barbell: m2 = 14 directed edges; each community has intra2 = 6
    // and degree_sum = 7 (6 intra + the bridge), so each term is
    // 6/14 - (7/14)^2 = 0.17857... -> q6 = 178571. Positive terms = LPA
    // found denser-than-random structure, the number's reason to exist.
    val sess = spark
    import sess.implicits._
    val undirected = Seq((0L, 1L), (0L, 2L), (1L, 2L),
      (3L, 4L), (3L, 5L), (4L, 5L), (2L, 3L))
    val edges = (undirected ++ undirected.map(_.swap))
      .toDF("src", "dst")
    val got = GraphOps.modularityOnEdges(edges).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(got == Map(0L -> ((3L, 6L, 7L, 178571L)),
      2L -> ((3L, 6L, 7L, 178571L))), s"got $got")
  }

  test("LPA communities refine the near-dup components (labels never cross)") {
    // labels only travel along edges, so every node's final label is a
    // node id from its own component — each LPA community must sit
    // inside exactly one connected component of the SAME >=0.3 pair graph
    val lpa = SparkEntry.queries("graph_lpa_communities")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val cc = Dedup.ccLabels(Dedup.jaccardPairs(spark, sfDir)
        .filter(col("jaccard") >= 0.3).select(col("doc_a"), col("doc_b")))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster")).toMap
    assert(lpa.nonEmpty)
    val byCommunity = lpa.groupBy(_._2)
    for ((community, members) <- byCommunity) {
      val components = members.map { case (node, _) => cc(node) }.toSet
      assert(components.size == 1,
        s"community $community spans components $components")
    }
  }

  test("profile_columns: key column is unique and null-free") {
    val p = SparkEntry.queries("profile_columns")(spark, sfDir).collect()
      .map(r => r.getAs[String]("col_name") ->
        (r.getAs[Long]("n_nulls"), r.getAs[Long]("n_distinct"),
          r.getAs[Long]("n_rows"))).toMap
    val (nulls, dist, n) = p("o_orderkey")
    assert(nulls == 0L && dist == n)
    assert(p("o_orderstatus")._2 <= 3L)
    assert(p.size == 6)
  }
}
