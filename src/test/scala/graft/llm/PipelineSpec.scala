package graft.llm

import graft.{SparkEntry, SparkSuite}
import org.apache.spark.sql.functions._

/** Invariants for the training-data curation bundle (llm/Pipeline.scala);
  * exact values are the driver's DuckDB oracle gate. */
class PipelineSpec extends SparkSuite {
  import spark.implicits._

  private def run(name: String) = SparkEntry.queries(name)(spark, sfDir)

  test("hash split: pure function of doc_id, roughly 90/5/5") {
    val df = run("sample_hash_split").cache()
    try {
      val n = df.count()
      val frac = df.groupBy("split").count()
        .as[(String, Long)].collect().toMap.view.mapValues(_.toDouble / n)
      assert(frac("train") > 0.8 && frac("train") < 0.97, frac)
      assert(frac.getOrElse("valid", 0.0) < 0.15, frac)
      // stable across recomputation (no order/partitioning dependence)
      val again = run("sample_hash_split").collect()
      assert(df.collect().toSeq === again.toSeq)
    } finally df.unpersist()
  }

  test("mix sampling: downweighted language lands near its target fraction") {
    val all = graft.core.Tables.documents(spark, sfDir)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    val kept = run("sample_mix").groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    val enFrac = kept("en").toDouble / all("en")
    assert(enFrac > 0.3 && enFrac < 0.7, s"en kept frac $enFrac")
    // weight-1.0 languages are never dropped
    (all.keySet - "en").foreach(l => assert(kept(l) === all(l), l))
  }

  test("stratified sample: at most k rows per language, ranks contiguous") {
    val got = run("sample_stratified").groupBy("lang")
      .agg(count(lit(1)).as("n"), max("rn").as("mx"))
      .as[(String, Long, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (lang, n, mx) =>
      assert(n <= 20 && mx === n, s"$lang n=$n mx=$mx")
    }
  }

  test("stratified sample plans as two-phase WindowGroupLimit top-k") {
    val df = run("sample_stratified")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("repetition signals: counting invariants hold") {
    val bad = run("text_repetition").where(
      col("n_uniq_words") > col("n_words") ||
        col("top_word_n") > col("n_words") ||
        col("n_uniq_bigrams") > greatest(col("n_words") - 1, lit(0)) ||
        (col("n_words") >= 2 && col("top_bigram_n") < 1)).count()
    assert(bad === 0)
  }

  test("boilerplate: shared-span counts bounded and fraction in [0,1]") {
    val df = run("text_boilerplate").cache()
    try {
      assert(df.count() > 0)
      assert(df.where(col("n_shared") > col("n_shingles") ||
        col("shared_frac") < 0 || col("shared_frac") > 1).count() === 0)
      // the fixture contains near-duplicate docs, so some spans ARE shared
      assert(df.agg(sum("n_shared")).head.getLong(0) > 0)
    } finally df.unpersist()
  }

  test("decontaminate: benchmark set broadcasts; flags are self-consistent") {
    val df = run("decontaminate_ngram")
    val rows = df.collect()
    // no benchmark doc in the output; flags agree with the counts
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(0) % 5 != 0))
    assert(rows.forall { r =>
      val (nSh, nOv) = (r.getLong(1), r.getLong(2))
      nOv <= nSh && (r.getBoolean(4) == (nOv == 0)) &&
        r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0
    })
    // size-based (not forced) broadcast: at fixture scale AQE must pick
    // a broadcast for the small benchmark side on its own
    val direct = Pipeline.decontaminate(spark, sfDir)
    direct.write.format("noop").mode("overwrite").save()
    val p = direct.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("dedup spans: untouched docs round-trip; removal bounded by word count") {
    val df = run("text_dedup_spans")
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val (n, rm) = (r.getLong(1), r.getLong(2))
      rm >= 0 && rm <= n
    })
    // the fixture has exact/near duplicates, so some spans ARE removed
    assert(rows.map(_.getLong(2)).sum > 0)
    // a doc with nothing removed must rebuild to its own (normalized)
    // word sequence — proves the position-ordered reconstruction
    val orig = graft.core.Tables.documents(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").split(" ").filter(_.nonEmpty).mkString(" "))
      .toMap
    rows.filter(_.getLong(2) == 0).foreach { r =>
      assert(r.getString(3) == orig(r.getLong(0)), s"doc ${r.getLong(0)}")
    }
  }

  test("dedup spans: consecutive spaces do not desync coverage positions") {
    // doc 2 carries a double space BEFORE the shared 5-gram: shingle
    // ordinals are filtered-word ordinals, so coverage must remove
    // exactly the five shared words — a raw-split position space would
    // remove the wrong slice (the round-5 review finding)
    import spark.implicits._
    val docs = Seq(
      (1L, "p q r s t", "en", "u1"),
      (2L, "z  p q r s t tail", "en", "u2")
    ).toDF("doc_id", "text", "lang", "source")
    val dir = graft.core.Fixtures.path("multispace")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("text_dedup_spans")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((5L, 5L, "")))
    assert(out(2L) == ((7L, 5L, "z tail")))
  }

  test("curate verdict: keep iff reasons empty; every reason is a real failure") {
    val rows = run("curate_verdict").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val keep = r.getBoolean(3)
      val reasons = r.getString(4)
      assert(keep == reasons.isEmpty, s"doc ${r.getLong(0)}: $keep / '$reasons'")
      if (reasons.contains("too_short")) assert(r.getLong(1) < 5)
      if (reasons.contains("repetitive")) assert(r.getDouble(2) < 0.25)
    }
    // 'duplicate' reasons must match the independently computed
    // non-canonical set (may legitimately be empty at this sf)
    val fps = graft.core.Tables.documents(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").trim.replaceAll("\\s+", " ").toLowerCase)
    val firstByFp = fps.groupBy(_._2).map { case (fp, ds) =>
      fp -> ds.map(_._1).min
    }
    val expectDup = fps.collect {
      case (id, fp) if id % 5 != 0 && firstByFp(fp) != id => id
    }.toSet
    assert(rows.filter(_.getString(4).contains("duplicate"))
      .map(_.getLong(0)).toSet == expectDup)
  }

  test("importance resampling: score tracks target-keyword density") {
    // independent per-doc target-term density, straight off the raw text
    val tgt = Seq("join", "query", "scan", "index", "sort", "merge",
      "filter", "hash")
    val density = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy("doc_id")
      .agg((sum(when(col("w").isInCollection(tgt), 1).otherwise(0)) /
        count(lit(1))).as("dens"))
    val scored = run("sample_importance").cache()
    try {
      val joined = scored.join(density, "doc_id")
        .select("doc_id", "logw", "dens").collect()
        .sortBy(-_.getAs[Double]("logw"))
      val k = joined.length / 4
      val top = joined.take(k).map(_.getAs[Double]("dens")).sum / k
      val bot = joined.takeRight(k).map(_.getAs[Double]("dens")).sum / k
      // log p_target/p_raw with a keyword target ⇒ keyword-dense docs
      // must out-rank keyword-sparse ones — the signal DSIR exists for
      assert(top > bot, s"top-quartile density $top not above bottom $bot")
      // and the weight ordering itself is what the query returned
      assert(joined.map(_.getLong(0)).take(5).toSeq ===
        scored.limit(5).collect().map(_.getLong(0)).toSeq)
      // deterministic across recomputation
      val again = run("sample_importance").select("logw").as[Double].collect()
      assert(scored.select("logw").as[Double].collect().toSeq === again.toSeq)
    } finally scored.unpersist()
  }

  test("gopher rules: keep iff no flag, bits match their rules, full coverage") {
    val df = run("curate_gopher_rules").cache()
    try {
      assert(df.count() ===
        graft.core.Tables.documents(spark, sfDir).count())
      assert(df.where(col("keep") =!= (col("flags") === 0L)).count() === 0)
      // only the five defined bits may ever be set
      assert(df.where(col("flags") >= 32L || col("flags") < 0L).count() === 0)
      // bit 1 = word-count band, recomputed independently from the output
      assert(df.where(
        (col("flags").bitwiseAND(1L) =!= 0L) =!=
          (col("n_words") < 20 || col("n_words") > 80)).count() === 0)
      // bit 4 = stopword rule
      assert(df.where(
        (col("flags").bitwiseAND(4L) =!= 0L) =!=
          (col("stop_distinct") < 2)).count() === 0)
      // the battery must discriminate on this corpus, not rubber-stamp it
      val kept = df.where(col("keep")).count()
      assert(kept > 0 && kept < df.count(), s"kept $kept of ${df.count()}")
    } finally df.unpersist()
  }

  test("weighted sampling: matches the in-memory ES reference; favors heavy docs") {
    // independent reference: same hash-uniform + ln/w key over collected
    // rows, plain Scala sort
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)].collect()
    def h48(sk: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(sk.getBytes("UTF-8"))
      java.lang.Long.parseLong(md.take(6).map("%02x".format(_)).mkString, 16)
    }
    val ref = docs.filter(_._2 > 0).map { case (id, w) =>
      val lnu = BigDecimal(math.log((h48(s"wres:$id").toDouble + 1.0) / 281474976710656.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_EVEN)
      (id, w, lnu.toDouble / w.toDouble)
    }.sortBy { case (id, _, k) => (-k, id) }.take(Pipeline.wresK)
    val got = run("sample_weighted")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == ref.toSeq,
      s"first diff: ${got.toSeq.zip(ref.toSeq).find { case (a, b) => a != b }}")
    // inclusion odds rise with weight: the sample skews heavier than the corpus
    val corpusMeanW = docs.map(_._2).sum.toDouble / docs.length
    val sampleMeanW = got.map(_._2).sum.toDouble / got.length
    assert(sampleMeanW > corpusMeanW, s"$sampleMeanW vs $corpusMeanW")
    // plan: top-k must be per-partition heaps, not a global sort
    val p = run("sample_weighted").queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("signal deciles: balanced, exhaustive, and monotone in the bucketing signal") {
    val rows = run("curate_signal_deciles").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(rows.map(_._2).sum == nDocs, s"deciles must partition the corpus")
    // percentile boundaries keep buckets within 2x of each other here
    assert(rows.map(_._2).max <= 2 * rows.map(_._2).min, rows.mkString(";"))
    // pooled logit must strictly increase across its own deciles —
    // if it doesn't, the bucketing is broken
    val logits = rows.sortBy(_._1).map(_._3)
    assert(logits.zip(logits.tail).forall { case (a, b) => a < b }, logits.toSeq)
  }

  test("signal deciles: the GK-sketch boundary mode stays within rank tolerance") {
    // the 100 TB path: approx_percentile (Greenwald-Khanna, bounded
    // state) instead of the exact single-buffer percentile. Grade each
    // approx boundary by its RANK in the real logit distribution: GK
    // guarantees rank error <= n/accuracy, and the returned boundary is
    // an actual sample (no interpolation), so the observed rank of
    // boundary b_i must sit within n/accuracy + 1 of i*n/10
    val logits = Pipeline.decileDocSignals(spark, sfDir)
      .select(col("logit")).collect().map(_.getDouble(0)).sorted
    val n = logits.length
    val approx = Pipeline.signalDecilesWith(spark, sfDir, approxBoundaries = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the report shape is unchanged: 10 deciles partitioning the corpus,
    // pooled logit still strictly monotone
    assert(approx.map(_._1).toSeq == (1L to 10L))
    assert(approx.map(_._2).sum == n)
    val pl = approx.sortBy(_._1).map(_._3)
    assert(pl.zip(pl.tail).forall { case (a, b) => a < b }, pl.toSeq)
    // rank tolerance of the boundaries, recovered from the cumulative
    // bucket counts: docs in deciles 1..i sit at or below boundary b_i
    val tol = n.toDouble / Pipeline.DecileAccuracy + 1
    val cum = approx.sortBy(_._1).map(_._2).scanLeft(0L)(_ + _).tail
    (1 to 9).foreach { i =>
      assert(math.abs(cum(i - 1) - i * n / 10.0) <= tol,
        s"boundary $i: cumulative rank ${cum(i - 1)} vs exact ${i * n / 10.0}")
    }
  }

  test("pii mask: masked text carries no residual emails or phones") {
    val df = run("text_pii_mask").cache()
    try {
      assert(df.where(col("masked").rlike(
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}")).count() === 0)
      assert(df.where(col("masked").rlike("\\+?\\d[\\d -]{7,}\\d")).count() === 0)
      // rows with hits counted them; untouched rows kept their text
      assert(df.where(col("n_email") > 0 || col("n_phone") > 0)
        .where(!col("masked").contains("<EMAIL>") &&
          !col("masked").contains("<PHONE>")).count() === 0)
    } finally df.unpersist()
  }
}
