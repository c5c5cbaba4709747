package graft.operators

import graft.SparkSuite
import graft.SparkEntry

/** Plan-shape assertions (SURVEY.md §4.2): the declared queries must keep
  * the physical properties the 100 TB design depends on — filter/column
  * pushdown into the scan, broadcast joins for small dims, no cartesian
  * products on the range join, whole-stage codegen coverage. */
class PlanSpec extends SparkSuite {

  private def physical(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("q03: filters are pushed to the parquet scan") {
    val p = physical("q03_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate") ||
      p.contains("IsNotNull(l_shipdate"), p)
  }

  test("q03: scan reads only the referenced columns") {
    val p = physical("q03_filter_project")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_tax"), readSchema)
    assert(!readSchema.contains("l_returnflag"), readSchema)
  }

  test("q05: dim-dim join broadcasts (no shuffle exchange for region)") {
    val p = physical("q05_broadcast_join")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q06: BUILDING customers broadcast; no cartesian product") {
    val p = physical("q06_join3_topk")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q06: top-10 runs as TakeOrderedAndProject, not a global sort") {
    val p = physical("q06_join3_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q10: range self-join stays an equi-join on user_id") {
    val p = physical("q10_range_join")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q04: aggregation is two-phase (partial then final hash aggregate)") {
    val p = physical("q04_groupagg_tpch1")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("shingle_ngrams runs inside whole-stage codegen (no fallback)") {
    // the round's hot-loop claim: the custom Shingles expression must not
    // force an interpreted Project — the scan→shingle→hash stage stays
    // one codegen'd span
    import org.apache.spark.sql.functions.{col, md5}
    val df = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.Shingles.shingleNgrams(col("text"), 5).as("shs"))
      .select(col("doc_id"), md5(col("shs").cast("string")).as("h"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("WholeStageCodegen") || p.contains("*("), p)
    // the project carrying shingle_ngrams sits inside a codegen'd stage
    val projLine = p.linesIterator.find(_.contains("shingle_ngrams"))
    assert(projLine.exists(_.contains("*(")), p)
  }

  test("lsh_project runs inside whole-stage codegen (no fallback)") {
    // the round-5 hot-loop claim: the fused LshProject expression must
    // stay inside a codegen'd Project — the interpreted HOF fold it
    // replaced cost ~1.7 ms/row
    val df = SparkEntry.queries("ann_lsh_buckets")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val projLine = p.linesIterator.find(_.contains("lsh_project"))
    assert(projLine.exists(_.contains("*(")), p)
  }

  test("text_rare_words: joins run on pre-aggregated (doc, word) pairs only") {
    // the generated corpus has a CLOSED vocabulary (zero hapax words at
    // every sf), so AQE's empty-relation propagation prunes the rare
    // join entirely there — correct, but nothing left to inspect. A
    // crafted fixture with a genuine df=1 word forces the join to plan.
    import org.apache.spark.sql.functions.col
    val sess = spark
    import sess.implicits._
    val docs = Seq(
      (1L, "a b c uniqword", "en", "s1"),
      (2L, "a b c", "en", "s2"),
      (3L, "a b c c", "en", "s3")
    ).toDF("doc_id", "text", "lang", "source")
    val dir = graft.core.Fixtures.path("hapax")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val df = SparkEntry.queries("text_rare_words")(spark, dir)
    val rows = df.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(rows == Map(1L -> 1L, 2L -> 0L, 3L -> 0L), rows)
    val p = df.queryExecution.executedPlan.toString
    // the skew fix is structural: every join input is a HashAggregate
    // output (distinct (doc, wh) pairs / the df=1 set), never the raw
    // Zipf-skewed occurrence stream. The raw posexplode stream must feed
    // ONLY the (doc_id, wh) pre-aggregation — an agg sits above it.
    val finalSection = p.split("== Initial Plan ==").head
    assert(finalSection.linesIterator.exists(_.contains("Join")), p)
    assert("HashAggregate".r.findAllIn(finalSection).size >= 3, p)
    val lines = finalSection.linesIterator.toSeq
    val genIdx = lines.indexWhere(_.contains("Generate posexplode"))
    assert(genIdx > 0 && lines.take(genIdx).exists(_.contains("HashAggregate")), p)
  }

  test("q01/q04: whole-stage codegen covers the agg pipeline") {
    // AQE hides the final plan until execution — run, then inspect
    Seq("q01_scan_agg", "q04_groupagg_tpch1").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      // "*(n)" is the WholeStageCodegen stage marker in plan strings
      assert(p.contains("WholeStageCodegen") || p.contains("*("), s"$name:\n$p")
      assert(p.contains("HashAggregate"), s"$name:\n$p")
    }
  }

  test("q31: probe side is broadcast — candidates never shuffle for the join") {
    val p = physical("q31_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("q42: sessionization is one shuffle on the session key, no join") {
    val df = SparkEntry.queries("q42_sessionize")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SessionWindow") || p.contains("session_window"), p)
    assert(!p.contains("Join"), p)
    // EXACTLY one hash-cluster exchange in the final plan (count before
    // AQE's "Initial Plan" section, which repeats the tree)
    val finalSection = p.split("== Initial Plan ==").head
    val hashEx = finalSection.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashEx === 1, p)
  }

  test("q14/q31: rank-limit pushes down as two-phase WindowGroupLimit") {
    // the declarative row_number + filter form lets Catalyst insert
    // Partial/Final WindowGroupLimit — per-partition top-k before the
    // shuffle, exactly the 100 TB shape (no custom rule needed)
    Seq("q14_window_rank", "q31_cosine_topk").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
        s"$name:\n$p")
    }
  }

  test("ann_lsh_multiprobe: probe set broadcast; candidates meet it on the bucket key") {
    // the probe × flips fan-out is constant-size (5 probes × 5 buckets) —
    // it must broadcast, so the full candidate table never shuffles for
    // the join no matter how many vectors it holds
    val p = physical("ann_lsh_multiprobe")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sample_cluster_diverse: per-cell quota is a two-phase WindowGroupLimit") {
    // rank ≤ quota per cell must prune before the exchange — at real
    // scale a cell holds millions of vectors and only `quota` survive
    val df = SparkEntry.queries("sample_cluster_diverse")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"), p)
  }

  test("q39: salted join replicates the dim side and joins on (key, salt)") {
    val p = physical("q39_skew_salted_join")
    // dim replication shows as a Generate(explode) feeding the join
    assert(p.contains("Generate explode") || p.contains("explode(sequence"), p)
    assert(p.contains("__salt"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q54: both as-of windows share one per-user sort; no join anywhere") {
    val df = SparkEntry.queries("q54_asof_nearest")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalSection = p.split("== Initial Plan ==").head
    assert(!finalSection.contains("Join"), p)
    assert(finalSection.contains("Window"), p)
    // backward last() and forward first() must reuse ONE hash exchange
    // on user_id — a second exchange would mean the windows re-sorted
    val hashEx = finalSection.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashEx === 1, p)
  }

  test("metric_anomaly: one segment exchange carries all trailing statistics") {
    // range-split shape (RangeSplitSpec pins equivalence to the global
    // window): the trailing n/s1/s2 statistics are Window nodes over ONE
    // (event_type, seg) spec — exactly one exchange carries the segment
    // key; a second would mean the data re-shuffled per statistic.
    val df = SparkEntry.queries("metric_anomaly")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalSection = p.split("== Initial Plan ==").head
    val segEx = finalSection.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("seg"))
    assert(segEx === 1, p)
    // the volume-scaling phase-1 key (event_type, bkt) lives in the
    // shared index derivation — assert it there
    val build = MetricBatch.indexedEvents(spark, sfDir)
    build.collect()
    val bp = build.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(bp.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("bkt")), bp)
  }

  test("chunk_documents: narrow generator — no shuffle before the output sort") {
    val df = SparkEntry.queries("chunk_documents")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalSection = p.split("== Initial Plan ==").head
    // the ONLY exchange is the presentation-order range partitioning;
    // chunking itself is scan → generate → project
    assert(!finalSection.contains("Exchange hashpartitioning"), p)
    assert(finalSection.contains("Generate"), p)
    assert(!finalSection.contains("Join"), p)
  }

  test("text_collocations: global top-20 is TakeOrderedAndProject; count joins broadcast") {
    val df = SparkEntry.queries("text_collocations")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalSection = p.split("== Initial Plan ==").head
    assert(finalSection.contains("TakeOrderedAndProject"), p)
    // the two 1-row scalar count sides must never shuffle the bigram table
    assert(finalSection.contains("BroadcastNestedLoopJoin") ||
      finalSection.contains("BroadcastExchange"), p)
    assert(!finalSection.contains("CartesianProduct"), p)
  }

  test("q28d: LATERAL top-k rewrites to two-phase WindowGroupLimit, no nested loop") {
    val df = SparkEntry.queries("q28d_lateral_topk")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalSection = p.split("== Initial Plan ==").head
    assert(finalSection.contains("WindowGroupLimit"), p)
    assert(finalSection.contains("Partial"), p)
    assert(!finalSection.contains("CartesianProduct"), p)
    assert(!finalSection.contains("BroadcastNestedLoopJoin"), p)
  }

  test("text_bm25: query terms broadcast into the postings join; top-k is WindowGroupLimit") {
    // the broadcast shape lives in the shared score derivation
    val direct = graft.llm.TextStats.bm25Scores(spark, sfDir)
    direct.write.format("noop").mode("overwrite").save()
    val pd = direct.queryExecution.executedPlan.toString
    // the ≤3·|probes| (q_doc, wh, idf) side must ride a broadcast — the
    // postings (inverted-index) table never shuffles for candidate gen
    assert(pd.split("== Initial Plan ==").head.contains("BroadcastHashJoin"), pd)
    assert(!pd.contains("CartesianProduct"), pd)
    val df = SparkEntry.queries("text_bm25")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalSection = p.split("== Initial Plan ==").head
    // per-probe top-10 prunes partially before the final rank
    assert(finalSection.contains("WindowGroupLimit"), p)
    assert(!finalSection.contains("CartesianProduct"), p)
  }

  test("merge_scd2 / q55: one user_id exchange feeds every window and the agg") {
    // the SCD2 history and the session rollup each claim a single wide
    // exchange: the collapse/gap windows, the running ids, and (for q55)
    // the per-(user, session) aggregation all reuse the user_id
    // partitioning — only the presentation range-exchange may follow
    Seq("merge_scd2", "q55_session_stats").foreach { name =>
      val p = physical(name)
      val hashEx = p.linesIterator
        .count(_.contains("Exchange hashpartitioning"))
      assert(hashEx == 1, s"$name has $hashEx hash exchanges:\n$p")
      assert(!p.contains("Join"), s"$name grew a join:\n$p")
    }
  }

  test("retrieval_rrf: rank prunes push down; fusion never goes cartesian") {
    val df = SparkEntry.queries("retrieval_rrf")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalSection = p.split("== Initial Plan ==").head
    // every top-10 rank filter (lexical, semantic, fused) runs as a
    // two-phase WindowGroupLimit, so the fusion join sees only bounded
    // inputs; the probe-side cross is the one declared broadcast
    assert(finalSection.contains("WindowGroupLimit"), p)
    assert(!finalSection.contains("CartesianProduct"), p)
  }

  test("sample_importance: log-ratio model broadcasts; top-k is TakeOrdered") {
    val df = SparkEntry.queries("sample_importance")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalSection = p.split("== Initial Plan ==").head
    // the 256-row log-ratio table joins the per-doc bucket counts as a
    // broadcast — the corpus side never shuffles for the model join
    assert(finalSection.contains("BroadcastHashJoin"), p)
    // final slice is a per-partition heap, not a global sort
    assert(finalSection.contains("TakeOrderedAndProject"), p)
    assert(!finalSection.contains("CartesianProduct"), p)
  }

  test("curate_gopher_rules: join-free — two doc-keyed aggs and a projection") {
    val p = physical("curate_gopher_rules")
    assert(!p.contains("Join"), p)
    // (doc_id, word) count then doc_id rollup: the second agg reuses the
    // doc_id-prefixed partitioning, so ONE hash exchange runs the battery
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx <= 2, s"gopher rules has $hashEx hash exchanges:\n$p")
  }

  test("text_vocab_coverage: vocab is TakeOrdered top-k and broadcasts into the probe") {
    val df = SparkEntry.queries("text_vocab_coverage")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalSection = p.split("== Initial Plan ==").head
    // top-500 vocab: per-partition heaps, never a global sort of the
    // word-count table
    assert(finalSection.contains("TakeOrderedAndProject"), p)
    // the 500-row vocab meets the token stream as a broadcast — the
    // corpus side never shuffles for the membership probe
    assert(finalSection.contains("BroadcastHashJoin"), p)
    assert(!finalSection.contains("SortMergeJoin"), p)
  }

  test("emb_outlier_zscore: dims-row stats broadcast; top-50 is TakeOrdered") {
    val df = SparkEntry.queries("emb_outlier_zscore")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalSection = p.split("== Initial Plan ==").head
    assert(finalSection.contains("BroadcastHashJoin"), p)
    assert(finalSection.contains("TakeOrderedAndProject"), p)
    assert(!finalSection.contains("CartesianProduct"), p)
  }

  test("dedup_semdedup: cell-blocked joins only — no cartesian, cell sums broadcast") {
    val df = SparkEntry.queries("dedup_semdedup")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalSection = p.split("== Initial Plan ==").head
    // every join is keyed ((label,bucket[,pos]) or vec-id equi) — the
    // pair mining and the centroid passes must never degenerate to a
    // cross of the vector table with itself
    assert(!finalSection.contains("CartesianProduct"), p)
    assert(!finalSection.contains("BroadcastNestedLoopJoin"), p)
    // the cells×dims centroid tables ride broadcasts into the per-vector
    // passes
    assert(finalSection.contains("BroadcastHashJoin"), p)
  }

  test("sample_cap_per_source: rollup reuses the window's source exchange") {
    val df = SparkEntry.queries("sample_cap_per_source")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalSection = p.split("== Initial Plan ==").head
    // rank + rollup share ONE hashpartitioning(source) exchange; the
    // final orderBy adds a range exchange — nothing else may shuffle
    val hashEx = finalSection.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashEx <= 1, s"cap_per_source has $hashEx hash exchanges:\n$p")
    assert(!finalSection.contains("Join"), p)
  }

  test("q56_transition_matrix: one user_id exchange; transition agg never re-sorts events") {
    val df = SparkEntry.queries("q56_transition_matrix")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalSection = p.split("== Initial Plan ==").head
    assert(!finalSection.contains("CartesianProduct"), p)
    // the from-totals join is over the |types|²-row transition table —
    // broadcast-sized at any corpus size
    assert(finalSection.contains("BroadcastHashJoin"), p)
  }

  test("merge_cdc_fold: base side is never shuffled (broadcast anti-join apply)") {
    val df = SparkEntry.queries("merge_cdc_fold")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalSection = p.split("== Initial Plan ==").head
    // the 100 TB contract: the touched-key anti-join broadcasts (AQE
    // picks it from the runtime size of the folded log), so the base
    // lineage pays only its own fold exchange
    assert(finalSection.contains("BroadcastHashJoin") &&
      finalSection.contains("LeftAnti"), p)
    assert(!finalSection.contains("CartesianProduct"), p)
  }

  test("profile_join_skew: top-10 is TakeOrdered over the collapsed histogram") {
    val df = SparkEntry.queries("profile_join_skew")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalSection = p.split("== Initial Plan ==").head
    // totals (1 row) and bucket rollup (32 rows) broadcast back onto the
    // key histogram; the top-10 must never plan as a global sort
    assert(finalSection.contains("TakeOrderedAndProject"), p)
    assert(finalSection.contains("BroadcastHashJoin") ||
      finalSection.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q59_compaction_plan: manifest plan costs at most two hash exchanges") {
    val df = SparkEntry.queries("q59_compaction_plan")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalSection = p.split("== Initial Plan ==").head
    // file-grain agg on (event_type, file_id), then the prefix-sum window
    // re-keys to event_type; the bin rollup MUST ride the window's
    // partitioning (subset-of-grouping-keys clustering), not re-shuffle
    val hashEx = finalSection.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashEx <= 2, s"compaction plan has $hashEx hash exchanges:\n$p")
    assert(!finalSection.contains("Join"), p)
  }

  test("events_late_report: block summary broadcasts; no global event sort") {
    val df = SparkEntry.queries("events_late_report")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalSection = p.split("== Initial Plan ==").head
    // the running max runs over the tiny block table only; the events
    // side takes it as a broadcast — a single-partition window over raw
    // events (the sequential formulation) would show here as an Exchange
    // SinglePartition feeding a Window over the full scan
    assert(finalSection.contains("BroadcastHashJoin"), p)
    assert(!finalSection.contains("CartesianProduct"), p)
  }

  test("text_bpe_tokens: one narrow codegen'd pass — no explode, join, or hash exchange") {
    // the subword counter's 100 TB claim: scan → project(bpe_token_count)
    // → filter, all in one whole-stage-codegen span; the ONLY exchange is
    // the presentation-order range partitioning
    val df = SparkEntry.queries("text_bpe_tokens")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalSection = p.split("== Initial Plan ==").head
    assert(!finalSection.contains("Exchange hashpartitioning"), p)
    assert(!finalSection.contains("Generate"), p)
    assert(!finalSection.contains("Join"), p)
    val projLine = finalSection.linesIterator.find(_.contains("bpe_token_count"))
    assert(projLine.exists(_.contains("*(")), p)
  }

  test("pack_sequences_bpe: same exchange shape as the whitespace packer") {
    // the bpe counter must not add work to the two-phase prefix sum: one
    // bucket exchange for the cumsum window, the 256-row offsets ride a
    // broadcast, no cartesian
    val df = SparkEntry.queries("pack_sequences_bpe")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalSection = p.split("== Initial Plan ==").head
    assert(finalSection.contains("BroadcastHashJoin"), p)
    assert(!finalSection.contains("CartesianProduct"), p)
    assert(!finalSection.contains("SortMergeJoin"), p)
  }

  test("text_bigram_lm: model joins broadcast; one doc_id exchange makes the bigrams") {
    val df = SparkEntry.queries("text_bigram_lm")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalSection = p.split("== Initial Plan ==").head
    // the |V|²-bounded model tables must meet the per-doc bigram counts
    // as broadcasts — the corpus side never shuffles for scoring
    assert(finalSection.contains("BroadcastHashJoin"), p)
    assert(!finalSection.contains("CartesianProduct"), p)
    assert(!finalSection.contains("SortMergeJoin"), p)
  }

  test("curate_signal_deciles: boundary assignment is a broadcast, not a rank window") {
    val df = SparkEntry.queries("curate_signal_deciles")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalSection = p.split("== Initial Plan ==").head
    // the decile bucketing must ride the 1-row percentile-boundary
    // broadcast — an ntile/rank Window over doc-level rows would funnel
    // the corpus through one task at scale
    assert(finalSection.contains("BroadcastNestedLoopJoin") ||
      finalSection.contains("BroadcastExchange"), p)
    assert(!finalSection.linesIterator.exists(l =>
      l.contains("Window") && (l.contains("ntile") || l.contains("rank"))), p)
  }

  test("every registry query produces a resolvable plan") {
    SparkEntry.registry.foreach { case (name, q) =>
      val df = q.fn(spark, sfDir)
      assert(df.queryExecution.analyzed != null, s"$name failed analysis")
    }
  }

  // the lake predicate (ck 200–399) only matches data from sf0.01 up —
  // at sf0.001 pruning legitimately empties the scan to a LocalTableScan
  private def lakePhysical(name: String): String =
    SparkEntry.queries(name)(spark, "/root/testdata/sf0.01")
      .queryExecution.executedPlan.toString

  test("lake_prune_read: the residual row filter is pushed into the pruned scan") {
    // file-level skipping happens BEFORE the plan (manifest-selected
    // paths); the exact ck/dy predicate must additionally reach the
    // parquet reader as pushed filters so surviving files still skip
    // row groups on their footer stats
    val p = lakePhysical("lake_prune_read")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(ck") || p.contains("IsNotNull(ck"),
      p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("lake_prune_read: scan does not read the payload columns the agg ignores") {
    val readSchema = lakePhysical("lake_prune_read")
      .linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("zkey"), readSchema)
  }

  test("lake_snapshot_diff: the anti join broadcasts the old-version key side") {
    val p = physical("lake_snapshot_diff")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      p.take(1500))
  }

  test("bigram LMs: model joins are forced broadcasts over a cut bigram table") {
    // the r11 driver-gate lesson: both LMs' efficiency story leaned on
    // size-based AQE broadcasts that another JVM's stats flipped to
    // multi-exchange SMJ (19.9 s / 15.1 s vs the builder's 2.1 / 2.4).
    // The bigram table derives inline and is .cache()d in-plan, so the
    // pin is: the scoring side reads the in-memory relation (no second
    // window over the corpus), and every vocabulary-bounded model join
    // is broadcast()-forced — no JVM gets to vote.
    for (name <- Seq("text_bigram_lm", "text_kneser_ney")) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      val finalSection = p.split("== Initial Plan ==").head
      assert(finalSection.contains("BroadcastHashJoin"), s"$name:\n$p")
      assert(!finalSection.contains("SortMergeJoin"),
        s"$name scoring join degraded to SMJ:\n${p.take(2000)}")
      assert(finalSection.contains("InMemoryTableScan"),
        s"$name scoring side does not read the cached bigram table:\n${p.take(2000)}")
      graft.core.Release.storage(spark)
    }
  }

  test("retrieval_prf: consumers read the cached tf — no uncached corpus rescan") {
    // tf derives inline and is .cache()d in-plan — the pin is that the
    // plan reads in-memory relations (the tf/model caches), broadcasts
    // its probe-bounded sides, and never degrades to a cartesian.
    val df = SparkEntry.queries("retrieval_prf")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalSection = p.split("== Initial Plan ==").head
    assert(finalSection.contains("InMemoryTableScan"),
      s"retrieval_prf does not read the cached tf:\n${p.take(2000)}")
    assert(finalSection.contains("BroadcastHashJoin"), p.take(2000))
    assert(!finalSection.contains("CartesianProduct"), p.take(2000))
    graft.core.Release.storage(spark)
  }

  test("retrieval_maxsim: query tokens broadcast; candidates stream past once") {
    // the late-interaction score must be a probe-bounded single pass:
    // the fixed query-token set (≤32 rows) is forced broadcast, the
    // candidate tokens never shuffle for the scoring join, and there is
    // no doc×doc cartesian anywhere
    val df = SparkEntry.queries("retrieval_maxsim")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"query side must be a forced broadcast:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    // exactly one scan of embeddings feeds the candidate side (the
    // query side's scan is its own, bounded); >2 means a recompute
    val scans = p.linesIterator.count(_.contains("embeddings.parquet"))
    assert(scans <= 2, s"candidate side rescans the corpus ($scans scans)")
  }

  test("dedup_minhash_pairs: band-df filter is a forced broadcast; no cartesian") {
    val df = SparkEntry.queries("dedup_minhash_pairs")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalSection = p.split("== Initial Plan ==").head
    // the cool (df<=50 band values) table is bounded by the band space —
    // it must meet the signature table as a BROADCAST so only the banded
    // a⋈b self-join shuffles; an AQE re-decision here was the round-12
    // driver-side 4x outlier on this family
    assert(finalSection.contains("BroadcastHashJoin"), p)
    assert(!finalSection.contains("CartesianProduct"), p)
  }

  test("dedup_tf_cosine: candidate pairs broadcast into tf; norms never shuffle for re-rank") {
    val df = SparkEntry.queries("dedup_tf_cosine")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalSection = p.split("== Initial Plan ==").head
    // three pinned broadcasts: candidates→tf(doc_a), dots→nrm(doc_a),
    // (dots⋈nrm)→nrm(doc_b); only the (doc_b, wh2) co-key join shuffles tf
    val bhj = finalSection.linesIterator
      .count(_.contains("BroadcastHashJoin"))
    assert(bhj >= 3, s"tf_cosine has $bhj broadcast joins:\n$p")
    assert(!finalSection.contains("CartesianProduct"), p)
  }

  test("curate_dsir_weights: doc attrs and bucket ratios broadcast; no cartesian") {
    val df = SparkEntry.queries("curate_dsir_weights")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalSection = p.split("== Initial Plan ==").head
    // two pinned broadcasts ride the cut tf relation: the
    // doc-count-sized (doc_id, lang, source) attribute join and the
    // 1024-row bucket log-ratio table — the corpus-sized side must
    // never shuffle for either
    val bhj = finalSection.linesIterator
      .count(_.contains("BroadcastHashJoin"))
    assert(bhj >= 2, s"dsir has $bhj broadcast joins:\n$p")
    assert(!finalSection.contains("CartesianProduct"), p)
  }

  test("asof family: no quadratic unbounded-FOLLOWING window frame") {
    // Spark's unbounded-following frame re-scans to the partition end per
    // row (O(n²) per user — the 10× sweep measured q54 at 12.5×); both
    // forward lookups must stay DESCENDING running frames
    for (name <- Seq("q53_asof_forward", "q54_asof_nearest")) {
      val plan = physical(name)
      assert(!plan.toLowerCase.contains("unboundedfollowing"),
        s"$name reintroduced an unbounded-following frame:\n${plan.take(1500)}")
    }
  }
}
