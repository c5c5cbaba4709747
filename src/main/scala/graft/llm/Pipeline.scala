package graft.llm

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Materialize, QueryDef, QueryGroup, Tables => T}

/** Training-data curation operators a 100 TB pipeline needs around the
  * dedup/quality core: deterministic corpus splitting, stratified
  * sampling, repetition (boilerplate) signals, and PII masking.
  *
  * Scale notes: every operator here is a narrow-shuffle design —
  * hash-split and PII masking are shuffle-free maps; stratified sampling
  * is one shuffle on the stratum key with a WindowGroupLimit top-k;
  * repetition signals pre-hash words/bigrams to 48-bit longs before any
  * grouping (same rule as Dedup.scala — never shuffle raw shingle
  * strings), with per-doc partial aggregation map-side.
  */
object Pipeline extends QueryGroup {

  /** The repo's portable 48-bit seeded hash — ONE definition, in
    * [[Dedup.h48]]; a second copy here is exactly the drift the helper
    * exists to prevent. */
  private def h48(c: org.apache.spark.sql.Column) = Dedup.h48(c)

  // ---- sample_hash_split: deterministic 90/5/5 corpus split -------------
  // Split membership must be a pure function of the stable document id —
  // never of row order or partitioning — so re-runs, backfills, and
  // incremental appends land every doc in the same split on any cluster
  // layout. A salted md5 bucket gives that with no shuffle at all.
  private def hashSplit(s: SparkSession, d: String): DataFrame =
    T.documents(s, d)
      .select(col("doc_id"),
        (h48(concat(lit("split:"), col("doc_id").cast(StringType))) % 100)
          .as("bucket"))
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "valid").otherwise("test"))
      .orderBy(col("doc_id"))

  private val hashSplitSql =
    """SELECT doc_id, bucket,
      |  CASE WHEN bucket < 90 THEN 'train'
      |       WHEN bucket < 95 THEN 'valid' ELSE 'test' END AS split
      |FROM (SELECT doc_id,
      |        CAST('0x'||substring(md5('split:'||CAST(doc_id AS VARCHAR)),1,12)
      |          AS BIGINT) % 100 AS bucket
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin

  // ---- sample_split_by_source: leakage-safe grouped split ----------------
  // The split a real training pipeline needs when documents within one
  // source are correlated (same site, same book, same crawl host): hashing
  // doc_id (sample_hash_split) puts near-identical siblings on BOTH sides
  // of the train/test fence. Hashing the SOURCE key sends every document
  // of a group to the same split — group-level leakage is structurally
  // impossible. Same shuffle-free narrow map; the quota is over groups,
  // not rows (documented: group-size skew moves the realized row
  // fractions, which is inherent to grouped splitting, not a bug).
  private def splitBySource(s: SparkSession, d: String): DataFrame =
    T.documents(s, d)
      .select(col("doc_id"), col("source"),
        (h48(concat(lit("gsplit:"), col("source"))) % 100).as("bucket"))
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "valid").otherwise("test"))
      .orderBy(col("doc_id"))

  private val splitBySourceSql =
    """SELECT doc_id, source, bucket,
      |  CASE WHEN bucket < 90 THEN 'train'
      |       WHEN bucket < 95 THEN 'valid' ELSE 'test' END AS split
      |FROM (SELECT doc_id, source,
      |        CAST('0x'||substring(md5('gsplit:'||source),1,12)
      |          AS BIGINT) % 100 AS bucket
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin

  // ---- sample_stratified: deterministic k-per-stratum sample ------------
  // Training-mix curation: k docs per language, chosen by seeded hash
  // order so the sample is stable across runs. One shuffle on the stratum
  // key; the rank≤k filter plans as WindowGroupLimit (two-phase top-k),
  // so no stratum's full population ever sorts globally.
  private def stratified(s: SparkSession, d: String): DataFrame =
    T.documents(s, d)
      .select(col("doc_id"), col("lang"),
        h48(concat(lit("strat:"), col("doc_id").cast(StringType))).as("h"))
      .withColumn("rn", row_number()
        .over(Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id")))
        .cast(LongType))
      .where(col("rn") <= 20)
      .select(col("doc_id"), col("lang"), col("rn"))
      .orderBy(col("lang"), col("rn"))

  private val stratifiedSql =
    """SELECT doc_id, lang, rn FROM (
      |  SELECT doc_id, lang,
      |    CAST(row_number() OVER (PARTITION BY lang ORDER BY
      |      CAST('0x'||substring(md5('strat:'||CAST(doc_id AS VARCHAR)),1,12)
      |        AS BIGINT), doc_id) AS BIGINT) AS rn
      |  FROM documents)
      |WHERE rn <= 20 ORDER BY lang, rn""".stripMargin

  // ---- sample_mix: deterministic domain-mix downsampling ----------------
  // Training-mix reweighting: each language keeps a target fraction of its
  // docs (e.g. downweight the over-represented language), decided per doc
  // by comparing its 48-bit seeded hash against the weight threshold —
  // shuffle-free, stable under re-runs and appends, and composable with
  // [[hashSplit]] because the hash is salted differently.
  private val mixWeights: Seq[(String, Double)] =
    Seq("en" -> 0.5, "de" -> 1.0, "es" -> 1.0, "fr" -> 1.0, "zh" -> 1.0)

  private def sampleMix(s: SparkSession, d: String): DataFrame = {
    val w = mixWeights.map { case (l, f) =>
      s"WHEN '$l' THEN CAST($f AS DOUBLE)" }.mkString(" ")
    T.documents(s, d)
      .select(col("doc_id"), col("lang"),
        h48(concat(lit("mix:"), col("doc_id").cast(StringType))).as("h"))
      .withColumn("keep_frac", expr(s"CASE lang $w ELSE CAST(1.0 AS DOUBLE) END"))
      // h is uniform on [0, 2^48); keep iff h < frac·2^48. Parity rests on
      // (a) h < 2^48 ≤ 2^53 so the cast to double is exact, and (b) both
      // engines computing the identical IEEE product frac·2^48 — the
      // threshold itself may round, which is fine as long as it rounds the
      // same way on both sides (it does: one multiply of two doubles)
      .where(col("h").cast(DoubleType) < col("keep_frac") * lit(281474976710656.0))
      .select(col("doc_id"), col("lang"), col("keep_frac"))
      .orderBy(col("doc_id"))
  }

  private val sampleMixSql = {
    val w = mixWeights.map { case (l, f) =>
      s"WHEN '$l' THEN CAST($f AS DOUBLE)" }.mkString(" ")
    s"""SELECT doc_id, lang, keep_frac FROM (
       |  SELECT doc_id, lang,
       |    CASE lang $w ELSE CAST(1.0 AS DOUBLE) END AS keep_frac,
       |    CAST(CAST('0x'||substring(md5('mix:'||CAST(doc_id AS VARCHAR)),1,12)
       |      AS BIGINT) AS DOUBLE) AS h
       |  FROM documents)
       |WHERE h < keep_frac * 281474976710656.0
       |ORDER BY doc_id""".stripMargin
  }

  // ---- sample_mix_temperature: τ-scaled mixture from observed counts ----
  // The fixed-weight mix applies shares a human decided; temperature
  // sampling (the multilingual-corpus move) computes them FROM the data:
  // target share q_l ∝ n_l^τ, so tail languages gain mass as τ drops.
  // keep_frac_l = min(1, q_l · N / n_l) — monotonically non-increasing in
  // n_l at τ < 1 — and the per-doc decision is the same salted-hash
  // threshold as [[sampleMix]] (shuffle-free, append-stable). Cross-engine
  // determinism pins τ = 0.5: sqrt is IEEE-correctly-rounded where pow is
  // not, the share denominator is an order-free exact DECIMAL sum, and
  // every remaining step is a single IEEE op with an identical expression
  // tree on both sides.
  private def sampleMixTemperature(s: SparkSession, d: String): DataFrame = {
    val docs = T.documents(s, d)
    val counts = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_l"))
      .withColumn("sqrt_dec",
        sqrt(col("n_l").cast(DoubleType)).cast(DecimalType(20, 10)))
    val denom = counts.agg(
      sum(col("sqrt_dec")).cast(DoubleType).as("s"),
      sum(col("n_l")).cast(DoubleType).as("n_total"))
    val fracs = counts.crossJoin(broadcast(denom))
      .withColumn("keep_frac", least(lit(1.0),
        col("sqrt_dec").cast(DoubleType) / col("s") *
          (col("n_total") / col("n_l").cast(DoubleType))))
      .select(col("lang"), col("keep_frac"))
    docs.select(col("doc_id"), col("lang"),
        h48(concat(lit("mixt:"), col("doc_id").cast(StringType))).as("h"))
      .join(broadcast(fracs), Seq("lang"))
      .where(col("h").cast(DoubleType) < col("keep_frac") * lit(281474976710656.0))
      .select(col("doc_id"), col("lang"),
        col("keep_frac").cast(DecimalType(10, 4)).cast(DoubleType).as("keep_frac"))
      .orderBy(col("doc_id"))
  }

  private val sampleMixTemperatureSql =
    s"""WITH cnt AS (
       |  SELECT lang, COUNT(*) AS n_l,
       |    CAST(sqrt(CAST(COUNT(*) AS DOUBLE)) AS DECIMAL(20,10)) AS sqrt_dec
       |  FROM documents GROUP BY lang),
       |den AS (
       |  SELECT CAST(SUM(sqrt_dec) AS DOUBLE) AS s,
       |    CAST(SUM(n_l) AS DOUBLE) AS n_total FROM cnt),
       |fr AS (
       |  SELECT lang, LEAST(CAST(1.0 AS DOUBLE),
       |    CAST(sqrt_dec AS DOUBLE) / s * (n_total / CAST(n_l AS DOUBLE)))
       |    AS keep_frac
       |  FROM cnt CROSS JOIN den)
       |SELECT doc_id, lang,
       |  CAST(CAST(keep_frac AS DECIMAL(10,4)) AS DOUBLE) AS keep_frac
       |FROM documents JOIN fr USING (lang)
       |WHERE CAST(CAST('0x'||substring(md5('mixt:'||CAST(doc_id AS VARCHAR)),1,12)
       |    AS BIGINT) AS DOUBLE) < keep_frac * 281474976710656.0
       |ORDER BY doc_id""".stripMargin

  // ---- text_repetition: Gopher-style repetition/boilerplate signals -----
  // Per doc: word count, distinct-word count, most-frequent-word count,
  // and the bigram equivalents — the inputs to duplicate-line/top-ngram
  // quality filters. Words and bigrams are hashed to 48-bit longs BEFORE
  // grouping (8-byte shuffle keys; identical hashing on the oracle side
  // keeps even collisions bit-equal).
  private def repetition(s: SparkSession, d: String): DataFrame = {
    val docs = T.documents(s, d)
    // EMPTY tokens are dropped (the words() rule): counting them inflated
    // n_words on whitespace-heavy docs, let '' become top_word, and built
    // bigrams like 'x ' — the signal disagreed with every other token
    // count in the repo for the same document.
    // Both halves derive from ONE cached pass over the positioned token
    // stream: the word counts are its (doc_id, wh) agg, the per-doc
    // bigram counts its lead() window (distinct (h1,h2) pairs ≡ distinct
    // bigrams — words cannot contain the split character, so the pair is
    // a bijective encoding of the concatenated form the oracle used to
    // hash; the oracle now mirrors the pair derivation exactly)
    val pos = TextStats.positionedHashes(s, d).cache()
    val wc = pos.groupBy(col("doc_id"), col("wh"))
      .agg(count(lit(1)).as("c"))
    val wordAgg = wc.groupBy(col("doc_id")).agg(
      sum(col("c")).cast(LongType).as("n_words"),
      count(lit(1)).as("n_uniq_words"),
      max(col("c")).as("top_word_n"))
    val bc = TextStats.bigramCountsFrom(pos)
    val biAgg = bc.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_uniq_bigrams"),
      max(col("c")).as("top_bigram_n"))
    // every doc keeps a row (all-whitespace → zeros), so count-per-doc
    // consumers never lose rows
    docs.select(col("doc_id"))
      .join(wordAgg, Seq("doc_id"), "left")
      .join(biAgg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_uniq_words"), lit(0L)).as("n_uniq_words"),
        coalesce(col("top_word_n"), lit(0L)).as("top_word_n"),
        coalesce(col("n_uniq_bigrams"), lit(0L)).as("n_uniq_bigrams"),
        coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"))
      .orderBy(col("doc_id"))
  }

  // bigram derivation mirrors TextStats.bigramCounts: per-word 48-bit hashes
  // paired by a lead() window over filtered positions — the pair is a
  // bijective encoding of the old concatenated "w1 w2" form (words
  // cannot contain the split character)
  private val repetitionSql =
    """WITH wp AS (
      |  SELECT doc_id, CAST('0x'||substring(md5(u),1,12) AS BIGINT) AS wh, pos
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS u,
      |          generate_subscripts(string_split(text, ' '), 1) AS pos
      |        FROM documents) WHERE u <> ''),
      |wc AS (SELECT doc_id, wh, count(*) AS c FROM wp GROUP BY 1, 2),
      |wa AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
      |         COUNT(*) AS n_uniq_words, MAX(c) AS top_word_n
      |       FROM wc GROUP BY 1),
      |bp AS (
      |  SELECT doc_id, wh AS h1,
      |    lead(wh) OVER (PARTITION BY doc_id ORDER BY pos) AS h2
      |  FROM wp),
      |bc AS (SELECT doc_id, h1, h2, count(*) AS c FROM bp
      |       WHERE h2 IS NOT NULL GROUP BY 1, 2, 3),
      |ba AS (SELECT doc_id, COUNT(*) AS n_uniq_bigrams, MAX(c) AS top_bigram_n
      |       FROM bc GROUP BY 1)
      |SELECT d.doc_id, COALESCE(n_words, 0) AS n_words,
      |  COALESCE(n_uniq_words, 0) AS n_uniq_words,
      |  COALESCE(top_word_n, 0) AS top_word_n,
      |  COALESCE(n_uniq_bigrams, 0) AS n_uniq_bigrams,
      |  COALESCE(top_bigram_n, 0) AS top_bigram_n
      |FROM documents d LEFT JOIN wa ON d.doc_id = wa.doc_id
      |LEFT JOIN ba ON d.doc_id = ba.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ---- text_boilerplate: C4-style duplicated-span signals ----------------
  // Per doc: how much of it is made of 5-gram spans that also appear in
  // OTHER documents (df ≥ 2 over distinct per-doc shingles) — the signal
  // behind C4's "discard spans seen elsewhere" rule. Reuses the dedup
  // family's codegen'd shingling; shingles are 48-bit hashed before the
  // df aggregation and the 1:N df join runs on 8-byte keys (a truly hot
  // boilerplate shingle is AQE-skew-split, same guard as the join family).
  private def boilerplate(s: SparkSession, d: String): DataFrame = {
    // cached: the df aggregation and the coverage join both read the
    // distinct set
    val dsh = Dedup.shingleHashes(s, d)
      .select(col("doc_id"), col("shh")).distinct().cache()
    val dfc = dsh.groupBy(col("shh")).agg(count(lit(1)).as("df"))
    dsh.join(dfc, Seq("shh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).cast(LongType)
          .as("n_shared"))
      .withColumn("shared_frac",
        col("n_shared").cast(DoubleType) / col("n_shingles").cast(DoubleType))
      .orderBy(col("doc_id"))
  }

  private val boilerplateSql =
    s"""${Dedup.shingleCte},
       |dshh AS (SELECT DISTINCT doc_id,
       |  CAST('0x'||substring(md5(sh),1,12) AS BIGINT) AS shh FROM dsh),
       |dfc AS (SELECT shh, COUNT(*) AS df FROM dshh GROUP BY shh)
       |SELECT d.doc_id, COUNT(*) AS n_shingles,
       |  CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       |  CAST(CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS shared_frac
       |FROM dshh d JOIN dfc USING (shh)
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  // ---- text_pii_mask: email/phone scrubbing -------------------------------
  // Shuffle-free map over the corpus; patterns are RE2-and-Java-compatible
  // (no backrefs) so engine and oracle agree. The fixture JSONL is written
  // deterministically (same pattern as Extras.MetricsJsonl for q37) since
  // the generated tables carry no PII-shaped text.
  private val emailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private val phoneRe = """\+?\d[\d -]{7,}\d"""

  private[llm] object ContactsJsonl {
    val path: String = graft.core.Fixtures.path("contacts.jsonl")
    def ensure(): String = synchronized {
      val p = Paths.get(path)
      // write-once like BmpFixture/WavFixture: an unconditional rewrite
      // per invocation wastes I/O in the bench loop and a concurrent
      // oracle read could observe a half-written file
      if (Files.exists(p)) return path
      Files.createDirectories(p.getParent)
      val lines = (0 until 400).map { i =>
        val note = (i % 4: @unchecked) match {
          case 0 => s"reach me at user$i@example.org or +1-555-${1000 + i}"
          case 1 => s"no contact info in row $i"
          case 2 => s"mail: a$i@corp.net, b$i@corp.net tel 020 7946 ${100 + i}"
          case 3 => s"call ${200 + i} ${300 + i} not-a-phone, ping c.$i@x.io"
        }
        s"""{"id": $i, "note": "$note"}"""
      }
      Files.writeString(p, lines.mkString("\n") + "\n")
      path
    }
  }

  private def piiMask(s: SparkSession, d: String): DataFrame = {
    val path = ContactsJsonl.ensure()
    s.read.schema("id LONG, note STRING").json(path)
      .select(col("id"),
        regexp_replace(
          regexp_replace(col("note"), lit(emailRe), lit("<EMAIL>")),
          lit(phoneRe), lit("<PHONE>")).as("masked"),
        size(regexp_extract_all(col("note"), lit(emailRe), lit(0)))
          .cast(LongType).as("n_email"),
        size(regexp_extract_all(col("note"), lit(phoneRe), lit(0)))
          .cast(LongType).as("n_phone"))
      .orderBy(col("id"))
  }

  private val piiMaskSql =
    s"""SELECT id,
       |  regexp_replace(regexp_replace(note, '$emailRe', '<EMAIL>', 'g'),
       |    '$phoneRe', '<PHONE>', 'g') AS masked,
       |  CAST(len(regexp_extract_all(note, '$emailRe')) AS BIGINT) AS n_email,
       |  CAST(len(regexp_extract_all(note, '$phoneRe')) AS BIGINT) AS n_phone
       |FROM read_json('${ContactsJsonl.path}', format='newline_delimited',
       |  columns={'id': 'BIGINT', 'note': 'VARCHAR'})
       |ORDER BY id""".stripMargin

  // ---- pack_sequences: greedy token packing into fixed budgets ----------
  // The pre-training batching op: stream the corpus in a deterministic
  // (hash) order and cut it into ~budget-token packs; a doc belongs to the
  // pack its first token lands in. Everything is a pure function of the
  // exclusive running token count, so the whole operator is a distributed
  // prefix sum. Rather than one global-order window (a single reducer at
  // 100 TB), it runs the classic two-phase shape: per-bucket cumsum in
  // parallel (buckets = the hash's leading byte, so bucket order IS hash
  // order), then a 256-row bucket-offset window broadcast back — the same
  // result as the global window, computed scalably. All integer
  // arithmetic → bit-identical to the oracle's single-window replay.
  private val packBudget = 2048L

  private def packSequences(s: SparkSession, d: String): DataFrame = {
    val toks = T.documents(s, d).select(col("doc_id"),
      size(split(col("text"), " ")).cast(LongType).as("n_tokens"),
      md5(concat(lit("pack:"), col("doc_id").cast(StringType))).as("h"))
      .withColumn("bucket", conv(substring(col("h"), 1, 2), 16, 10).cast(LongType))
    val inBucket = toks.withColumn("cum_in",
      sum(col("n_tokens")).over(
        Window.partitionBy(col("bucket")).orderBy(col("h"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val offsets = toks.groupBy(col("bucket"))
      .agg(sum(col("n_tokens")).as("btok"))
      .withColumn("boff",
        coalesce(sum(col("btok")).over(
          Window.orderBy(col("bucket"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("boff"))
    inBucket.join(broadcast(offsets), Seq("bucket"))
      .withColumn("offset", col("boff") + col("cum_in") - col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("offset"),
        expr(s"offset div $packBudget").as("pack_id"))
      .orderBy(col("doc_id"))
  }

  private val packSequencesSql =
    s"""WITH t AS (SELECT doc_id,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |  md5('pack:' || CAST(doc_id AS VARCHAR)) AS h
       |  FROM documents),
       |c AS (SELECT doc_id, n_tokens,
       |  CAST(SUM(n_tokens) OVER (ORDER BY h
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
       |    AS BIGINT) AS "offset"
       |  FROM t)
       |SELECT doc_id, n_tokens, "offset",
       |  "offset" // $packBudget AS pack_id
       |FROM c ORDER BY doc_id""".stripMargin

  // ---- pack_sequences_bpe: the same packer, subword-token-priced --------
  // pack_sequences with the length measure a trainer actually bills by:
  // greedy-BPE subword counts (functions/Bpe.scala) instead of whitespace
  // words. Whitespace counts under-price every doc by its subword blowup,
  // so whitespace-packed sequences systematically overflow a real token
  // budget — this twin is what you'd ship. Same distributed two-phase
  // prefix-sum shape (per-bucket cumsum + broadcast 256-row offsets);
  // the token counter is a codegen'd narrow map, so the plan gains no
  // shuffle over the whitespace packer. A distinct hash salt ("packb:")
  // gives the twin its own deterministic stream order. Zero-token docs
  // (impossible in the corpus, present in the degenerate fixture) carry
  // no tokens and are excluded, matching the oracle's word-join.
  private def packSequencesBpe(s: SparkSession, d: String): DataFrame = {
    val toks = T.documents(s, d).select(col("doc_id"),
      graft.functions.BpeTokenCount.bpeTokenCount(col("text")).as("n_tokens"),
      md5(concat(lit("packb:"), col("doc_id").cast(StringType))).as("h"))
      .filter(col("n_tokens") > 0L)
      .withColumn("bucket", conv(substring(col("h"), 1, 2), 16, 10).cast(LongType))
    val inBucket = toks.withColumn("cum_in",
      sum(col("n_tokens")).over(
        Window.partitionBy(col("bucket")).orderBy(col("h"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val offsets = toks.groupBy(col("bucket"))
      .agg(sum(col("n_tokens")).as("btok"))
      .withColumn("boff",
        coalesce(sum(col("btok")).over(
          Window.orderBy(col("bucket"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("boff"))
    inBucket.join(broadcast(offsets), Seq("bucket"))
      .withColumn("offset", col("boff") + col("cum_in") - col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("offset"),
        expr(s"offset div $packBudget").as("pack_id"))
      .orderBy(col("doc_id"))
  }

  private val packSequencesBpeSql =
    s"""WITH RECURSIVE
       |${graft.functions.BpeUtil.bpeCtes},
       |t AS (SELECT doc_id, bpe_tokens AS n_tokens,
       |  md5('packb:' || CAST(doc_id AS VARCHAR)) AS h
       |  FROM bpedoc WHERE bpe_tokens > 0),
       |c AS (SELECT doc_id, n_tokens,
       |  CAST(SUM(n_tokens) OVER (ORDER BY h
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
       |    AS BIGINT) AS "offset"
       |  FROM t)
       |SELECT doc_id, n_tokens, "offset",
       |  "offset" // $packBudget AS pack_id
       |FROM c ORDER BY doc_id""".stripMargin

  // ---- decontaminate: benchmark n-gram overlap flags --------------------
  // The eval-set decontamination step every training pipeline runs before
  // a model sees the corpus: flag any document sharing an 8-gram with the
  // held-out benchmark set. Here the "benchmark" is the doc_id % 5 == 0
  // slice (a deterministic stand-in for a real eval suite). No broadcast
  // HINT on the membership join: a real benchmark (a few eval sets) is
  // tiny and AQE broadcasts it on its own, but this slice stand-in grows
  // WITH the corpus, and forcing it to the driver would OOM at scale —
  // size-based planning picks the right join either way. Shingles are
  // 48-bit-hashed BEFORE the distinct (8-byte shuffle keys, the
  // Dedup.scala rule); the contamination fraction divides exact longs.
  private[graft] val benchMod = 5

  /** Per-doc distinct 48-bit 8-gram hashes — the contamination currency.
    * Shared by batch [[decontaminate]] and the streaming twin
    * (`streaming.StreamCurate`), so the two can never disagree on what
    * counts as an overlapping shingle. */
  private[graft] def shingle8(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(graft.functions.Shingles.shingleNgrams(col("text"), 8)).as("sh"))
      .select(col("doc_id"), h48(col("sh")).as("shh"))
      .distinct()

  // ---- text_pii_redact: PII detection + masking ------------------------
  // The cleaning step every training pipeline runs before anything else:
  // detect and mask emails / IPv4s / phone-shaped numbers. One shared
  // pattern list renders BOTH the Spark expressions and the DuckDB SQL
  // (the profile_correlations can't-drift rule), and the per-doc output
  // carries the match counts plus the md5 of the fully redacted text —
  // so the oracle grades that Java-regex and RE2 agree byte-for-byte on
  // every document, not just on the counts. The synthetic corpus is
  // PII-free (all counts 0, hash == hash of the original), which the
  // oracle still verifies end-to-end; `PiiRedactSpec` drives the actual
  // masking on a crafted PII corpus. Patterns stay in the Java∩RE2
  // common syntax (ASCII classes, \b, bounded repeats). Narrow per-row
  // map — no shuffle before the presentation sort; at 100 TB this is
  // the embarrassingly parallel regime (chunk_documents' row).
  private[llm] val piiPatterns: Seq[(String, String)] = Seq(
    "email" -> """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}""",
    "ipv4" -> """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b""",
    "phone" -> """\b\d{3}[-.]\d{3}[-.]\d{4}\b""")

  private[llm] def piiRedactDf(docs: DataFrame): DataFrame = {
    val redacted = piiPatterns.foldLeft(col("text")) { case (c, (_, p)) =>
      regexp_replace(c, p, "<PII>")
    }
    docs.select(
      col("doc_id") +:
        piiPatterns.map { case (n, p) =>
          size(regexp_extract_all(col("text"), lit(p), lit(0)))
            .cast(LongType).as(s"n_$n")
        } :+
        length(redacted).cast(LongType).as("redacted_len") :+
        md5(redacted).as("redacted_md5"): _*)
      .orderBy(col("doc_id"))
  }

  private def piiRedact(s: SparkSession, d: String): DataFrame =
    piiRedactDf(T.documents(s, d))

  private val piiRedactSql = {
    val counts = piiPatterns.map { case (n, p) =>
      s"CAST(len(regexp_extract_all(text, '$p')) AS BIGINT) AS n_$n"
    }.mkString(",\n      |  ")
    val redacted = piiPatterns.foldLeft("text") { case (e, (_, p)) =>
      s"regexp_replace($e, '$p', '<PII>', 'g')"
    }
    s"""SELECT doc_id,
      |  $counts,
      |  CAST(length($redacted) AS BIGINT) AS redacted_len,
      |  md5($redacted) AS redacted_md5
      |FROM documents ORDER BY doc_id""".stripMargin
  }

  private def decontaminateGraded(s: SparkSession, d: String): DataFrame =
    decontaminate(s, d).orderBy(col("doc_id"))

  private[llm] def decontaminate(s: SparkSession, d: String): DataFrame = {
    val sh8 = shingle8(T.documents(s, d))
      .cache() // read three times (bench build, overlap probe, totals)
    val bench = sh8.filter(col("doc_id") % benchMod === 0)
      .select(col("shh")).distinct()
    val corpus = sh8.filter(col("doc_id") % benchMod =!= 0)
    val overlap = corpus.join(bench, Seq("shh"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
    val totals = corpus.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"))
    // docs too short for any 8-gram still appear: zero shingles, clean
    T.documents(s, d).filter(col("doc_id") % benchMod =!= 0)
      .select(col("doc_id"))
      .join(totals, Seq("doc_id"), "left")
      .join(overlap, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("contam_frac",
        when(col("n_shingles") === 0, lit(0.0))
          .otherwise(col("n_overlap").cast(DoubleType) /
            col("n_shingles").cast(DoubleType)))
      .withColumn("is_clean", col("n_overlap") === 0)
  }

  private val decontaminateSql =
    s"""WITH wrd AS (
       |  SELECT doc_id, word, pos FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS word,
       |           generate_subscripts(string_split(text, ' '), 1) AS pos
       |    FROM documents) WHERE word <> ''),
       |shg8 AS (
       |  SELECT doc_id, sh FROM (
       |    SELECT doc_id,
       |      string_agg(word, ' ') OVER (PARTITION BY doc_id ORDER BY pos
       |        ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS sh,
       |      COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
       |        ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS n_in
       |    FROM wrd) WHERE n_in = 8),
       |sh8 AS (SELECT DISTINCT doc_id,
       |          CAST('0x' || substring(md5(sh), 1, 12) AS BIGINT) AS shh
       |        FROM shg8),
       |bench AS (SELECT DISTINCT shh FROM sh8 WHERE doc_id % $benchMod = 0),
       |corp AS (SELECT * FROM sh8 WHERE doc_id % $benchMod <> 0),
       |ov AS (SELECT doc_id, COUNT(*) AS n_overlap
       |       FROM corp JOIN bench USING (shh) GROUP BY doc_id),
       |tot AS (SELECT doc_id, COUNT(*) AS n_shingles
       |        FROM corp GROUP BY doc_id)
       |SELECT d.doc_id,
       |  COALESCE(tot.n_shingles, 0) AS n_shingles,
       |  COALESCE(ov.n_overlap, 0) AS n_overlap,
       |  CASE WHEN COALESCE(tot.n_shingles, 0) = 0 THEN 0.0
       |       ELSE CAST(COALESCE(ov.n_overlap, 0) AS DOUBLE) /
       |            CAST(tot.n_shingles AS DOUBLE) END AS contam_frac,
       |  COALESCE(ov.n_overlap, 0) = 0 AS is_clean
       |FROM (SELECT doc_id FROM documents WHERE doc_id % $benchMod <> 0) d
       |LEFT JOIN tot USING (doc_id)
       |LEFT JOIN ov USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ---- text_dedup_spans: span-level duplicate REMOVAL -------------------
  // The rewrite counterpart of the text_boilerplate SIGNAL: any word
  // position covered by a 5-gram appearing in >= 2 distinct docs is
  // dropped, and the cleaned text is rebuilt in position order — the
  // C4-style span dedup step, as a transform. Shingles are 48-bit-hashed
  // before any shuffle (the Dedup.scala rule). The dup-shingle join is
  // 1:1 per shingle occurrence (the dup side is distinct), so a
  // boilerplate span shared by a million docs costs one row per
  // occurrence — linear, never quadratic. Rebuild is a per-doc
  // array_sort over (pos, word) structs: position is unique per doc, so
  // the order — hence the rebuilt text — is total and oracle-portable.
  private def dedupSpans(s: SparkSession, d: String): DataFrame = {
    // POSITION SPACE: shingle positions are ordinals over the
    // empty-token-FILTERED word sequence (that is what the Shingles
    // expression emits), so the word relation here must use the same
    // filtered ordinals — Dedup.words carries RAW split indices, which
    // drift ahead of filtered ordinals on consecutive/leading spaces and
    // would land coverage on the wrong words. The oracle mirrors with a
    // row_number over the filtered rows.
    val wrd = T.documents(s, d)
      .select(col("doc_id"),
        posexplode(filter(split(col("text"), " "), w => w =!= ""))
          .as(Seq("pos0", "word")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("word"))
    // the covered-position relation the three span queries share
    // (text_dup_coverage / text_dup_span_merge use the identical rows)
    val cov = Dedup.coveredPositions(s, d)
    val kept = wrd.join(cov, Seq("doc_id", "pos"), "left_anti")
    val agg = kept.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_kept"),
      concat_ws(" ",
        transform(array_sort(collect_list(struct(col("pos"), col("word")))),
          x => x.getField("word"))).as("cleaned"))
    val tot = wrd.groupBy(col("doc_id")).agg(count(lit(1)).as("n_words"))
    T.documents(s, d).select(col("doc_id"))
      .join(tot, Seq("doc_id"), "left")
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        (coalesce(col("n_words"), lit(0L)) -
          coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("cleaned"), lit("")).as("cleaned"))
      .orderBy(col("doc_id"))
  }

  private val dedupSpansSql =
    """WITH wrd0 AS (
      |  SELECT doc_id, word, pos FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS word,
      |           generate_subscripts(string_split(text, ' '), 1) AS pos
      |    FROM documents) WHERE word <> ''),
      |wrd AS (
      |  SELECT doc_id, word, CAST(row_number() OVER (
      |      PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS pos
      |  FROM wrd0),
      |shg AS (
      |  SELECT doc_id, pos, sh FROM (
      |    SELECT doc_id, pos,
      |      string_agg(word, ' ') OVER (PARTITION BY doc_id ORDER BY pos
      |        ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS sh,
      |      COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
      |        ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS n_in
      |    FROM wrd) WHERE n_in = 5),
      |hsh AS (SELECT doc_id, pos,
      |          CAST('0x' || substring(md5(sh), 1, 12) AS BIGINT) AS shh
      |        FROM shg),
      |dup AS (SELECT shh FROM (SELECT DISTINCT doc_id, shh FROM hsh)
      |        GROUP BY shh HAVING COUNT(*) >= 2),
      |cov AS (SELECT DISTINCT h.doc_id, h.pos + o AS pos
      |        FROM hsh h JOIN dup USING (shh)
      |        CROSS JOIN (SELECT unnest(range(5)) AS o)),
      |kept AS (SELECT w.doc_id, w.pos, w.word FROM wrd w
      |         LEFT JOIN cov c ON w.doc_id = c.doc_id AND w.pos = c.pos
      |         WHERE c.pos IS NULL),
      |agg AS (SELECT doc_id, COUNT(*) AS n_kept,
      |          string_agg(word, ' ' ORDER BY pos) AS cleaned
      |        FROM kept GROUP BY doc_id),
      |tot AS (SELECT doc_id, COUNT(*) AS n_words FROM wrd GROUP BY doc_id)
      |SELECT d.doc_id,
      |  COALESCE(tot.n_words, 0) AS n_words,
      |  COALESCE(tot.n_words, 0) - COALESCE(agg.n_kept, 0) AS n_removed,
      |  COALESCE(agg.cleaned, '') AS cleaned
      |FROM documents d
      |LEFT JOIN tot USING (doc_id)
      |LEFT JOIN agg USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ---- text_dup_span_merge: maximal duplicated-span report ---------------
  // The exact-substring-dedup bookkeeping step (the output format of
  // Lee et al. 2022's suffix-array dedup, arXiv:2107.06499, re-expressed
  // over shingle coverage): positions covered by any cross-document
  // duplicated 5-gram — the same coverage relation text_dedup_spans cuts
  // out — merged into MAXIMAL contiguous spans via gaps-and-islands
  // (pos − row_number() is constant exactly within a consecutive run).
  // Where text_dedup_spans emits the cleaned text, this emits the span
  // inventory a curation run logs and thresholds on ("drop docs whose
  // longest duplicated span exceeds K"): per document, span count,
  // covered words, longest span, first span start.
  //
  // Scale shape: the coverage build is the dedup_spans pipeline (hash
  // agg on 48-bit shingle keys, dup side distinct → 1 row/key); the
  // islands window and both rollups all ride ONE doc_id exchange.
  private def dupSpanMerge(s: SparkSession, d: String): DataFrame = {
    val cov = Dedup.coveredPositions(s, d)
    val spans = cov
      .withColumn("grp",
        col("pos") - row_number()
          .over(Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"), count(lit(1)).as("span_len"))
    spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("span_len")).cast(LongType).as("n_covered"),
        max(col("span_len")).cast(LongType).as("max_span_len"),
        min(col("span_start")).cast(LongType).as("first_span_start"))
      .orderBy(col("doc_id"))
  }

  private val dupSpanMergeSql =
    """WITH wrd0 AS (
      |  SELECT doc_id, word, pos FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS word,
      |           generate_subscripts(string_split(text, ' '), 1) AS pos
      |    FROM documents) WHERE word <> ''),
      |wrd AS (
      |  SELECT doc_id, word, CAST(row_number() OVER (
      |      PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS pos
      |  FROM wrd0),
      |shg AS (
      |  SELECT doc_id, pos, sh FROM (
      |    SELECT doc_id, pos,
      |      string_agg(word, ' ') OVER (PARTITION BY doc_id ORDER BY pos
      |        ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS sh,
      |      COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
      |        ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS n_in
      |    FROM wrd) WHERE n_in = 5),
      |hsh AS (SELECT doc_id, pos,
      |          CAST('0x' || substring(md5(sh), 1, 12) AS BIGINT) AS shh
      |        FROM shg),
      |dup AS (SELECT shh FROM (SELECT DISTINCT doc_id, shh FROM hsh)
      |        GROUP BY shh HAVING COUNT(*) >= 2),
      |cov AS (SELECT DISTINCT h.doc_id, h.pos + o AS pos
      |        FROM hsh h JOIN dup USING (shh)
      |        CROSS JOIN (SELECT unnest(range(5)) AS o)),
      |spans AS (
      |  SELECT doc_id, grp, MIN(pos) AS span_start, COUNT(*) AS span_len
      |  FROM (SELECT doc_id, pos,
      |          pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
      |            AS grp
      |        FROM cov)
      |  GROUP BY doc_id, grp)
      |SELECT doc_id, COUNT(*) AS n_spans,
      |  CAST(SUM(span_len) AS BIGINT) AS n_covered,
      |  CAST(MAX(span_len) AS BIGINT) AS max_span_len,
      |  CAST(MIN(span_start) AS BIGINT) AS first_span_start
      |FROM spans GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- ingest_dedup_incremental: new batch vs corpus fingerprints -------
  // The ingest-time twin of q30's batch dedup: an incoming batch (the
  // doc_id % 4 == 0 slice as the deterministic stand-in) resolves each
  // document's exact fingerprint against the already-ingested corpus,
  // emitting the existing canonical id or a new-document flag. One
  // aggregation over the corpus side plus a left join keyed on the
  // 128-bit fingerprint — at 100 TB the corpus side is a pre-computed
  // fingerprint table read once, and the join shuffles only 16-byte keys.
  private def ingestDedup(s: SparkSession, d: String): DataFrame = {
    val all = T.documents(s, d).select(col("doc_id"),
      graft.core.Tables.textFingerprint(col("text")).as("fp"))
    val existing = all.filter(col("doc_id") % 4 =!= 0)
      .groupBy(col("fp")).agg(min(col("doc_id")).as("dup_of"))
    all.filter(col("doc_id") % 4 === 0)
      .join(existing, Seq("fp"), "left")
      .select(col("doc_id"), col("fp"), col("dup_of"),
        col("dup_of").isNull.as("is_new"))
      .orderBy(col("doc_id"))
  }

  private val ingestDedupSql =
    """WITH f AS (SELECT doc_id,
      |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
      |  FROM documents),
      |ex AS (SELECT fp, MIN(doc_id) AS dup_of FROM f
      |       WHERE doc_id % 4 <> 0 GROUP BY fp)
      |SELECT f.doc_id, f.fp, ex.dup_of, ex.dup_of IS NULL AS is_new
      |FROM f LEFT JOIN ex USING (fp)
      |WHERE f.doc_id % 4 = 0
      |ORDER BY f.doc_id""".stripMargin

  // ---- curate_verdict: the end-to-end keep/drop decision ----------------
  // What the whole curation layer exists to produce: one row per corpus
  // document with the keep flag and the reasons it failed — exact-dup
  // canonicality (q30's fingerprint), benchmark contamination, length,
  // and repetition composed into a single verdict. Each input is the
  // already-proven pipeline; the composition is three doc_id equi-joins,
  // which AQE plans as shuffle joins on the same key — no new scale
  // surface beyond the components'.
  /** Per-doc word stats over FILTERED tokens: repetition() counts the
    * empty tokens consecutive spaces produce, which would let a
    * whitespace-padded one-word doc evade too_short (review finding) —
    * and would disagree with text_dedup_spans' n_words for the same doc.
    * Shared with the streaming twin. */
  private[graft] def wordStats(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(filter(split(col("text"), " "), w => w =!= "")).as("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        countDistinct(col("word")).as("n_uniq_words"))
      .select(col("doc_id"), col("n_words"),
        (col("n_uniq_words").cast(DoubleType) /
          col("n_words").cast(DoubleType)).as("uniq_frac"))

  /** The verdict composition: (doc_id, is_clean, is_canonical, n_words,
    * uniq_frac) → keep + reasons. ONE definition — the streaming twin
    * folds per-batch inputs into exactly these columns and calls this,
    * so the keep thresholds can never drift between the two. */
  private[graft] def verdictCols(j: DataFrame): DataFrame =
    j.withColumn("keep",
      col("is_clean") && col("is_canonical") &&
        col("n_words") >= 5 && col("uniq_frac") >= 0.25)
      .withColumn("reasons", concat_ws(",",
        when(!col("is_clean"), lit("contaminated")),
        when(!col("is_canonical"), lit("duplicate")),
        when(col("n_words") < 5, lit("too_short")),
        // gated on n_words > 0: an empty doc is too_short, not repetitive
        when(col("n_words") > 0 && col("uniq_frac") < 0.25, lit("repetitive"))))
      .select(col("doc_id"), col("n_words"), col("uniq_frac"),
        col("keep"), col("reasons"))

  private def curateVerdictGraded(s: SparkSession, d: String): DataFrame =
    curateVerdict(s, d).orderBy(col("doc_id"))

  /** The unordered verdict relation: `curate_verdict` re-sorts it and
    * `curate_funnel` aggregates it. */
  private[llm] def curateVerdict(s: SparkSession, d: String): DataFrame = {
    val rep = wordStats(T.documents(s, d))
    val dec = decontaminate(s, d).select(col("doc_id"), col("is_clean"))
    val canon = T.documents(s, d)
      .select(col("doc_id"),
        graft.core.Tables.textFingerprint(col("text")).as("fp"))
      .withColumn("first_doc",
        min(col("doc_id")).over(Window.partitionBy(col("fp"))))
      .select(col("doc_id"),
        (col("doc_id") === col("first_doc")).as("is_canonical"))
    // left join: a doc of ONLY whitespace has no filtered words at all —
    // it must still get a verdict (too_short), not vanish
    verdictCols(
      dec.join(rep, Seq("doc_id"), "left").join(canon, Seq("doc_id"))
        .select(col("doc_id"), col("is_clean"), col("is_canonical"),
          coalesce(col("n_words"), lit(0L)).as("n_words"),
          coalesce(col("uniq_frac"), lit(0.0)).as("uniq_frac")))
  }

  private lazy val curateVerdictSql =
    s"""WITH rep AS (
       |  SELECT doc_id, COUNT(*) AS n_words,
       |         COUNT(DISTINCT word) AS n_uniq_words
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |        FROM documents)
       |  WHERE word <> '' GROUP BY doc_id),
       |dec AS (SELECT doc_id, is_clean FROM ($decontaminateSql)),
       |canon AS (SELECT doc_id,
       |    doc_id = MIN(doc_id) OVER (PARTITION BY
       |      md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))))
       |    AS is_canonical
       |  FROM documents),
       |j AS (
       |  SELECT dec.doc_id, dec.is_clean, canon.is_canonical,
       |    COALESCE(rep.n_words, 0) AS n_words,
       |    COALESCE(CAST(rep.n_uniq_words AS DOUBLE) /
       |      CAST(rep.n_words AS DOUBLE), 0.0) AS uniq_frac
       |  FROM dec
       |  LEFT JOIN rep USING (doc_id)
       |  JOIN canon USING (doc_id))
       |SELECT doc_id, n_words, uniq_frac,
       |  is_clean AND is_canonical AND n_words >= 5
       |    AND uniq_frac >= 0.25 AS keep,
       |  concat_ws(',',
       |    CASE WHEN NOT is_clean THEN 'contaminated' END,
       |    CASE WHEN NOT is_canonical THEN 'duplicate' END,
       |    CASE WHEN n_words < 5 THEN 'too_short' END,
       |    CASE WHEN n_words > 0 AND uniq_frac < 0.25
       |         THEN 'repetitive' END) AS reasons
       |FROM j
       |ORDER BY doc_id""".stripMargin

  // ---- curate_funnel: stage-attrition report over the verdict ------------
  // The observability output every curation run ships to its dashboard:
  // how many documents does each stage drop, in pipeline order? Each
  // dropped doc is attributed to its FIRST failing stage (the stage that
  // would actually have removed it in a sequential pipeline) — the first
  // element of curate_verdict's reasons list, whose order IS the declared
  // stage order. n_enter chains by a running subtraction over the 4-row
  // stage table, so survivors of stage k are exactly stage k+1's input.
  //
  // Scale shape: everything rides the verdict derivation (already-proven
  // components); the funnel itself is one count-by-first-fail agg plus a
  // window over a FOUR-row literal table — free at any corpus size.
  private val funnelStages =
    Seq("contaminated", "duplicate", "too_short", "repetitive")

  private def curateFunnel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val firstFail = curateVerdict(s, d) // unordered: aggregate-only
      .select(when(!col("keep"), split(col("reasons"), ",")(0))
        .as("first_fail"))
    val drops = firstFail.groupBy(col("first_fail"))
      .agg(count(lit(1)).as("n"))
    val total = firstFail.agg(count(lit(1)).as("total"))
    val stages = funnelStages.zipWithIndex
      .map { case (st, i) => (st, (i + 1).toLong) }.toDF("stage", "stage_idx")
    val wPrior = Window.orderBy(col("stage_idx"))
      .rowsBetween(Window.unboundedPreceding, -1)
    stages
      .join(drops, col("stage") === col("first_fail"), "left")
      .select(col("stage"), col("stage_idx"),
        coalesce(col("n"), lit(0L)).as("n_drop"))
      .crossJoin(broadcast(total))
      .withColumn("n_enter",
        col("total") - coalesce(sum(col("n_drop")).over(wPrior), lit(0L)))
      .select(col("stage"), col("stage_idx"), col("n_enter"), col("n_drop"),
        (col("n_enter") - col("n_drop")).as("n_survive"),
        (col("n_drop").cast(DoubleType) / col("n_enter")).as("drop_share"))
      .orderBy(col("stage_idx"))
  }

  private lazy val curateFunnelSql = {
    val verdictNoOrder = curateVerdictSql.stripSuffix("\nORDER BY doc_id")
    require(verdictNoOrder.length < curateVerdictSql.length,
      "curate_verdict SQL shape changed; fix the funnel's reuse")
    s"""WITH v AS ($verdictNoOrder),
       |f AS (SELECT CASE WHEN NOT keep
       |    THEN string_split(reasons, ',')[1] END AS first_fail FROM v),
       |c AS (SELECT first_fail, count(*) AS n FROM f
       |  WHERE first_fail IS NOT NULL GROUP BY first_fail),
       |stages(stage, stage_idx) AS (VALUES
       |  ('contaminated', CAST(1 AS BIGINT)), ('duplicate', 2),
       |  ('too_short', 3), ('repetitive', 4)),
       |t AS (SELECT count(*) AS total FROM f),
       |d AS (SELECT s.stage, s.stage_idx,
       |    CAST(COALESCE(c.n, 0) AS BIGINT) AS n_drop
       |  FROM stages s LEFT JOIN c ON s.stage = c.first_fail),
       |e AS (SELECT d.stage, d.stage_idx, d.n_drop,
       |    t.total - CAST(COALESCE(sum(d.n_drop) OVER (ORDER BY d.stage_idx
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS n_enter
       |  FROM d CROSS JOIN t)
       |SELECT stage, stage_idx, n_enter, n_drop,
       |  n_enter - n_drop AS n_survive,
       |  CAST(n_drop AS DOUBLE) / n_enter AS drop_share
       |FROM e ORDER BY stage_idx""".stripMargin
  }

  // ---- chunk: fixed-width overlapping windows ---------------------------
  // Context-window chunking — the step between curation and tokenization:
  // every document becomes ceil-div(len, stride) chunks of up to
  // `chunkSize` characters starting every `chunkStride` (so consecutive
  // chunks overlap by chunkSize - chunkStride chars and no suffix is
  // dropped). A pure narrow map + generator: sequence() builds the start
  // offsets per row, explode fans out, substring slices — zero shuffles,
  // embarrassingly parallel at 100 TB (the final orderBy is
  // presentation-only for the oracle compare). Character-addressed (not
  // word) so byte budgets for downstream tokenizers are predictable;
  // empty/short docs still yield exactly one (possibly empty) chunk, so a
  // count-per-doc downstream never loses rows.
  // package-visible so QualityOpsSpec tests the REAL geometry — a spec
  // with its own copy of these would silently drift on a retune
  private[llm] val chunkSize = 120
  private[llm] val chunkStride = 90
  private def chunkDocs(s: SparkSession, d: String): DataFrame =
    T.documents(s, d)
      .select(col("doc_id"), col("text"),
        explode(expr(s"sequence(CAST(0 AS BIGINT), " +
          s"CAST((greatest(length(text), 1) - 1) div $chunkStride AS BIGINT))"))
          .as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * chunkStride + 1).as("chunk_start"),
        expr(s"substring(text, cast(chunk_id * $chunkStride + 1 as int), $chunkSize)")
          .as("chunk_text"))
      .withColumn("chunk_len", length(col("chunk_text")).cast(LongType))
      .orderBy(col("doc_id"), col("chunk_id"))

  private val chunkDocsSql =
    s"""SELECT doc_id, chunk_id, chunk_id * $chunkStride + 1 AS chunk_start,
       |  substring(text, CAST(chunk_id * $chunkStride + 1 AS INT), $chunkSize) AS chunk_text,
       |  CAST(length(substring(text, CAST(chunk_id * $chunkStride + 1 AS INT), $chunkSize)) AS BIGINT) AS chunk_len
       |FROM (
       |  SELECT doc_id, text,
       |    unnest(range(0, (greatest(length(text), 1) - 1) // $chunkStride + 1)) AS chunk_id
       |  FROM documents)
       |ORDER BY doc_id, chunk_id""".stripMargin

  // ---- curate_signal_deciles: cross-signal calibration report -----------
  // The threshold-setting audit every curation pipeline runs before it
  // trusts a filter: bucket the corpus into deciles of ONE signal (the
  // hashing-trick classifier logit) and report how the OTHER quality
  // signals move across them — agreeing signals validate the threshold,
  // flat ones expose a filter that measures nothing. All three signals
  // derive from the SAME (doc_id, wh, c) term-frequency pass: the
  // classifier's exact BIGINT weighted sum, the self-entropy numerator
  // (DECIMAL(18,6)-rounded ln terms, the libm rule), and token counts.
  //
  // Scale shape: deciles come from exact interpolated percentile
  // BOUNDARIES (one doc-level aggregate, bitwise-equal to DuckDB
  // quantile_cont — the q35/sketch_quantile precedent) broadcast back
  // onto a narrow assignment map — NOT a global ntile window, which
  // would funnel every doc-level row through one task at corpus scale
  // (the GK-sketch boundary mode is wired below — `approxBoundaries`;
  // the report is 10 rows either way). Per-decile outputs are POOLED
  // ratios of exact sums (one IEEE division each), never means of
  // per-doc doubles
  // (an order-dependent double sum would break engine parity).
  private def signalDeciles(s: SparkSession, d: String): DataFrame =
    signalDecilesWith(s, d, approxBoundaries = false)

  /** `approxBoundaries` is the 100 TB switch: the exact interpolated
    * `percentile` (the oracle-graded default — bitwise-equal to DuckDB
    * `quantile_cont`) materializes every doc-level logit in ONE
    * aggregation buffer, which pages at real corpus size; `true` swaps
    * in `approx_percentile` — Spark's Greenwald-Khanna summary, bounded
    * state, rank error ≤ n/accuracy — and changes nothing else (the
    * same broadcast-boundary assignment, the same pooled-ratio report).
    * `PipelineSpec` grades the approx boundaries within GK rank
    * tolerance of the exact ones on the fixture. */
  private[llm] val DecileAccuracy = 10000

  /** The shared doc-level signal pass: (doc_id, wsum, nt, hnum, logit) —
    * package-visible so `PipelineSpec` grades the approx-decile
    * boundaries against the REAL logit distribution, not a copy that
    * could drift on a retune. */
  private[llm] def decileDocSignals(s: SparkSession, d: String): DataFrame = {
    val tf = TextStats.corpusTermFreqs(s, d)
    val n = Window.partitionBy(col("doc_id"))
    val terms = tf
      .withColumn("nt", sum(col("c")).over(n).cast(LongType))
      .withColumn("w", pmod(col("wh"), lit(1009L)) - lit(504L))
      .withColumn("hterm",
        (col("c").cast(DecimalType(18, 0)) *
          log(col("c").cast(DoubleType) / col("nt").cast(DoubleType))
            .cast(DecimalType(18, 6))))
    terms.groupBy(col("doc_id"))
      .agg(sum(col("c") * col("w")).as("wsum"),
        max(col("nt")).as("nt"),
        sum(col("hterm")).as("hnum"))
      .withColumn("logit", col("wsum").cast(DoubleType) /
        (lit(504.0) * col("nt").cast(DoubleType)))
  }

  private[llm] def signalDecilesWith(s: SparkSession, d: String,
      approxBoundaries: Boolean): DataFrame = {
    val doc = decileDocSignals(s, d)
    val bcols =
      if (approxBoundaries)
        (1 to 9).map(i => percentile_approx(col("logit"), lit(i / 10.0),
          lit(DecileAccuracy)).as(s"b$i"))
      else
        (1 to 9).map(i => percentile(col("logit"), lit(i / 10.0)).as(s"b$i"))
    val bounds = doc.agg(bcols.head, bcols.tail: _*)
    val assigned = doc.crossJoin(broadcast(bounds))
      .withColumn("decile",
        (1 to 9).map(i => when(col("logit") > col(s"b$i"), 1L).otherwise(0L))
          .reduce(_ + _) + lit(1L))
    assigned.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("wsum")).cast(DoubleType) /
          (lit(504.0) * sum(col("nt")).cast(DoubleType))).as("pooled_logit"),
        (negate(sum(col("hnum")).cast(DoubleType)) /
          sum(col("nt")).cast(DoubleType)).as("pooled_entropy"),
        (sum(col("nt")).cast(DoubleType) / count(lit(1))).as("avg_tokens"))
      .orderBy(col("decile"))
  }

  private val signalDecilesSql =
    """WITH occ AS (
      |  SELECT doc_id, CAST('0x'||substring(md5(word),1,12) AS BIGINT) AS wh
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |        FROM documents) WHERE word <> ''),
      |tf AS (SELECT doc_id, wh, COUNT(*) AS c FROM occ GROUP BY doc_id, wh),
      |term AS (
      |  SELECT doc_id, wh, c,
      |    CAST(SUM(c) OVER (PARTITION BY doc_id) AS BIGINT) AS nt,
      |    wh % 1009 - 504 AS w
      |  FROM tf),
      |doc AS (
      |  SELECT doc_id,
      |    CAST(SUM(c * w) AS BIGINT) AS wsum,
      |    MAX(nt) AS nt,
      |    SUM(CAST(c AS DECIMAL(18,0)) *
      |        CAST(ln(CAST(c AS DOUBLE) / CAST(nt AS DOUBLE)) AS DECIMAL(18,6)))
      |      AS hnum
      |  FROM term GROUP BY doc_id),
      |docl AS (
      |  SELECT *, CAST(wsum AS DOUBLE) / (504.0 * CAST(nt AS DOUBLE)) AS logit
      |  FROM doc),
      |b AS (
      |  SELECT quantile_cont(logit, 0.1) AS b1, quantile_cont(logit, 0.2) AS b2,
      |    quantile_cont(logit, 0.3) AS b3, quantile_cont(logit, 0.4) AS b4,
      |    quantile_cont(logit, 0.5) AS b5, quantile_cont(logit, 0.6) AS b6,
      |    quantile_cont(logit, 0.7) AS b7, quantile_cont(logit, 0.8) AS b8,
      |    quantile_cont(logit, 0.9) AS b9
      |  FROM docl),
      |assigned AS (
      |  SELECT d.*,
      |    1 + (CASE WHEN logit > b.b1 THEN 1 ELSE 0 END)
      |      + (CASE WHEN logit > b.b2 THEN 1 ELSE 0 END)
      |      + (CASE WHEN logit > b.b3 THEN 1 ELSE 0 END)
      |      + (CASE WHEN logit > b.b4 THEN 1 ELSE 0 END)
      |      + (CASE WHEN logit > b.b5 THEN 1 ELSE 0 END)
      |      + (CASE WHEN logit > b.b6 THEN 1 ELSE 0 END)
      |      + (CASE WHEN logit > b.b7 THEN 1 ELSE 0 END)
      |      + (CASE WHEN logit > b.b8 THEN 1 ELSE 0 END)
      |      + (CASE WHEN logit > b.b9 THEN 1 ELSE 0 END) AS decile
      |  FROM docl d, b)
      |SELECT CAST(decile AS BIGINT) AS decile, COUNT(*) AS n_docs,
      |  CAST(SUM(wsum) AS DOUBLE) / (504.0 * CAST(SUM(nt) AS DOUBLE))
      |    AS pooled_logit,
      |  -CAST(SUM(hnum) AS DOUBLE) / CAST(SUM(nt) AS DOUBLE) AS pooled_entropy,
      |  CAST(SUM(nt) AS DOUBLE) / COUNT(*) AS avg_tokens
      |FROM assigned GROUP BY decile ORDER BY decile""".stripMargin

  // ---- sample_weighted: deterministic weighted sampling (ES) ------------
  // Efraimidis-Spirakis weighted sampling without replacement (the
  // standard one-pass distributed algorithm): each item draws a uniform
  // u and the k largest keys u^(1/w) are the sample — inclusion odds
  // rise with weight, no sequential state, embarrassingly parallel.
  // Here u is a pure hash function of doc_id (the engine's seeded-hash
  // sampling rule: deterministic, replayable, re-runs pick the same
  // sample), the weight is n_chars (sample long documents preferentially
  // — a real token-budget curation move), and the rank key is the
  // monotone-equivalent ln(u)/w. ln rounds once through DECIMAL(18,6)
  // (the tfidf/perplexity libm rule); the key is then ONE IEEE division
  // of that decimal by the integer weight, so ordering is engine-stable.
  // Top-k is orderBy+limit — TakeOrderedAndProject per-partition heaps,
  // never a global sort. Zero-weight docs can never be sampled
  // (u^(1/0) is ill-defined) and are filtered, matching ES semantics.
  private[llm] val wresK = 100

  private def sampleWeighted(s: SparkSession, d: String): DataFrame =
    T.documents(s, d).filter(col("n_chars") > 0)
      .select(col("doc_id"), col("n_chars").cast(LongType).as("weight"),
        h48(concat(lit("wres:"), col("doc_id").cast(StringType))).as("h"))
      .withColumn("lnu",
        log((col("h").cast(DoubleType) + lit(1.0)) / lit(281474976710656.0))
          .cast(DecimalType(18, 6)))
      .select(col("doc_id"), col("weight"),
        (col("lnu").cast(DoubleType) / col("weight").cast(DoubleType))
          .as("es_key"))
      .orderBy(desc("es_key"), col("doc_id"))
      .limit(wresK)

  private val sampleWeightedSql =
    s"""SELECT doc_id, weight,
       |  CAST(lnu AS DOUBLE) / CAST(weight AS DOUBLE) AS es_key
       |FROM (
       |  SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
       |    CAST(ln((CAST(CAST('0x'||substring(md5('wres:'||CAST(doc_id AS VARCHAR)),1,12)
       |          AS BIGINT) AS DOUBLE) + 1.0) / 281474976710656.0)
       |      AS DECIMAL(18,6)) AS lnu
       |  FROM documents WHERE n_chars > 0)
       |ORDER BY es_key DESC, doc_id LIMIT $wresK""".stripMargin

  // ---- sample_importance: DSIR-style importance resampling --------------
  // Data Selection via Importance Resampling (Xie et al. 2023,
  // arXiv:2302.03169): score every raw document by how much more likely
  // its hashed-n-gram features are under a TARGET distribution than under
  // the RAW distribution, then keep the top slice. The paper's target is
  // an external trusted corpus; here it is a pinned keyword distribution
  // ([[dsirTarget]], uniform over query-domain terms) — the same shape
  // an external corpus reduces to after the paper's hashed-n-gram trick:
  // a fixed-width count vector over [[dsirBuckets]] buckets. (The
  // fixture's lang/source sub-corpora all share one word distribution —
  // measured KL ≈ 0.001 — so deriving the target from a subset would
  // score noise; an explicit target keeps the operator honest.)
  //
  // Scale shape (the reason DSIR works at 100 TB): the model is two
  // 256-row count vectors. One word-explode pass with a map-side partial
  // agg produces the raw one (one shuffle of 256×32 partial rows); the
  // target one is constant. The per-bucket log-ratio table is then
  // BROADCAST, so scoring is the per-doc (doc_id, bucket) count agg — a
  // doc-keyed shuffle that AQE coalesces — plus a broadcast hash join
  // and one more doc-keyed sum. Nothing joins corpus-to-corpus; the
  // final top-k is a TakeOrdered (per-partition heap, no global sort).
  //
  // Cross-engine determinism: each libm ln() is rounded through
  // DECIMAL(18,6) immediately (the text_tfidf rule), per-bucket ratios
  // subtract exactly in decimal, and the per-doc score Σ c·lr is an
  // exact order-free decimal sum, so Spark and DuckDB order identical
  // score values; doc_id breaks any remaining tie.
  private val dsirBuckets = 256L
  private val dsirTarget =
    Seq("join", "query", "scan", "index", "sort", "merge", "filter", "hash")

  private def sampleImportance(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def bucket(c: org.apache.spark.sql.Column) =
      (h48(concat(lit("dsir:"), c)) % dsirBuckets).as("b")
    val w = Dedup.words(T.documents(s, d))
      .select(col("doc_id"), bucket(col("word")))
    // ONE explode+agg feeds everything: the per-doc count table is
    // materialized once (Materialize.cut — reliable checkpoint in
    // cluster mode, the CC/PageRank pattern), the raw count vector is
    // that table re-aggregated (Σ_doc c = c_r), and the corpus-wide
    // total rides along as a window sum over the 256-row vector instead
    // of a separate aggregation branch. Without the cut, Spark planned
    // the explode+agg THREE times (lr, totals, scoring) — measured
    // 7.8 s at sf1 vs 6.1 s with exchange-level reuse alone.
    val dc = Materialize.cut(
      w.groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c")))
    // SUM OVER () pulls the 256 rows to one partition — constant-size by
    // construction, the same audited bound as the IVF centroid collect
    val raw = dc.groupBy(col("b")).agg(sum(col("c")).as("c_r"))
      .withColumn("n_r", sum(col("c_r")).over(Window.partitionBy(lit(1))))
    val tgt = dsirTarget.toDF("word")
      .select(bucket(col("word")))
      .groupBy(col("b")).agg(count(lit(1)).as("c_t"))
    def logp(c: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
      log((c + 1).cast(DoubleType) /
        (n + dsirBuckets).cast(DoubleType)).cast(DecimalType(18, 6))
    val lr = raw.join(broadcast(tgt), Seq("b"), "left")
      .na.fill(0L, Seq("c_t"))
      .select(col("b"),
        (logp(col("c_t"), lit(dsirTarget.size.toLong)) -
          logp(col("c_r"), col("n_r"))).as("lr"))
    // Score = MEAN per-word log-ratio, not the raw sum: document lengths
    // vary 10×, and the unnormalized Σ c·lr measures length as much as
    // domain fit (a long neutral doc out-scores a short on-target one).
    // The decimal Σ is exact/order-free; the single double divide that
    // normalizes it is one IEEE op, identical in both engines.
    dc.join(broadcast(lr), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c") * col("lr")).as("logw_dec"),
        sum(col("c")).as("n_words"))
      .withColumn("logw",
        col("logw_dec").cast(DoubleType) / col("n_words").cast(DoubleType))
      .orderBy(col("logw").desc, col("doc_id"))
      .limit(100)
      .select(col("doc_id"), col("n_words"), col("logw"))
  }

  private val sampleImportanceSql = {
    val tgtValues = dsirTarget.map(w => s"('$w')").mkString(", ")
    s"""WITH wrd AS (
       |  SELECT doc_id,
       |    CAST('0x'||substring(md5('dsir:'||word),1,12) AS BIGINT) % $dsirBuckets AS b
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |        FROM documents) WHERE word <> ''),
       |dc AS (SELECT doc_id, b, COUNT(*) AS c FROM wrd GROUP BY doc_id, b),
       |raw AS (SELECT b, SUM(c) AS c_r, SUM(SUM(c)) OVER () AS n_r
       |        FROM dc GROUP BY b),
       |tgt AS (
       |  SELECT CAST('0x'||substring(md5('dsir:'||word),1,12) AS BIGINT) % $dsirBuckets AS b,
       |    COUNT(*) AS c_t
       |  FROM (VALUES $tgtValues) AS t(word) GROUP BY b),
       |lr AS (
       |  SELECT raw.b AS b,
       |    CAST(ln(CAST(COALESCE(c_t, 0) + 1 AS DOUBLE) / CAST(${dsirTarget.size} + $dsirBuckets AS DOUBLE)) AS DECIMAL(18,6))
       |  - CAST(ln(CAST(c_r + 1 AS DOUBLE) / CAST(n_r + $dsirBuckets AS DOUBLE)) AS DECIMAL(18,6)) AS lr
       |  FROM raw LEFT JOIN tgt ON raw.b = tgt.b)
       |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
       |  CAST(SUM(c * lr) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS logw
       |FROM dc JOIN lr USING (b)
       |GROUP BY doc_id
       |ORDER BY CAST(SUM(c * lr) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) DESC, doc_id
       |LIMIT 100""".stripMargin
  }

  // ---- curate_gopher_rules: published rule-battery quality filter -------
  // The Gopher rule filter (Rae et al. 2021, arXiv:2112.11446 App. A,
  // reused by RefinedWeb/FineWeb): a document passes only if EVERY
  // hard rule holds; failures are reported as a bitmask so downstream
  // curation can inspect WHICH rule fired, not just that one did.
  // Thresholds are the published ones where the fixture can exercise
  // them (mean word length 3..10, ≥2 distinct stopwords, ≥80% alphabetic
  // words, most-common-word fraction ≤0.2); the word-count band rescales
  // the paper's 50..100k to this corpus's 10..99-word documents (20..80)
  // so the rule actually discriminates at test scale.
  //
  // Scale shape: one word-explode with a two-level doc-keyed agg — the
  // (doc_id, word-hash) count feeds both the top-word fraction and the
  // distinct-stopword count map-side, so the whole battery is two
  // doc-keyed shuffles and a narrow final projection. No joins, no
  // corpus-wide state: the filter is embarrassingly parallel, which is
  // what lets the published pipelines run it before dedup at web scale.
  private val gopherStop = Seq("the", "a", "of", "and", "is")

  private def gopherRules(s: SparkSession, d: String): DataFrame = {
    val stopArr = array(gopherStop.map(lit): _*)
    val wc = Dedup.words(T.documents(s, d))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("c"))
    val perDoc = wc.groupBy(col("doc_id")).agg(
      sum(col("c")).as("n_words"),
      sum(col("c") * length(col("word"))).as("n_word_chars"),
      // wc is one row per distinct (doc, word), so counting stopword ROWS
      // counts DISTINCT stopwords — the rule as published
      count(when(array_contains(stopArr, col("word")), true)).as("stop_distinct"),
      sum(when(col("word").rlike("^[a-z]+$"), col("c")).otherwise(0L)).as("n_alpha"),
      max(col("c")).as("top_c"))
    perDoc
      .withColumn("avg_wlen",
        col("n_word_chars").cast(DoubleType) / col("n_words").cast(DoubleType))
      .withColumn("top_word_frac",
        col("top_c").cast(DoubleType) / col("n_words").cast(DoubleType))
      .withColumn("alpha_frac",
        col("n_alpha").cast(DoubleType) / col("n_words").cast(DoubleType))
      .withColumn("flags",
        (when(col("n_words") < 20 || col("n_words") > 80, 1L).otherwise(0L) +
         when(col("avg_wlen") < 3.0 || col("avg_wlen") > 10.0, 2L).otherwise(0L) +
         when(col("stop_distinct") < 2, 4L).otherwise(0L) +
         when(col("alpha_frac") < 0.8, 8L).otherwise(0L) +
         when(col("top_word_frac") > 0.2, 16L).otherwise(0L)).cast(LongType))
      .withColumn("keep", col("flags") === 0L)
      .select(col("doc_id"), col("n_words"), col("avg_wlen"),
        col("stop_distinct"), col("top_word_frac"), col("flags"), col("keep"))
      .orderBy(col("doc_id"))
  }

  private val gopherRulesSql = {
    val stopList = gopherStop.map(w => s"'$w'").mkString(", ")
    s"""WITH wc AS (
       |  SELECT doc_id, word, COUNT(*) AS c FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |    FROM documents) WHERE word <> '' GROUP BY doc_id, word),
       |pd AS (
       |  SELECT doc_id, SUM(c) AS n_words,
       |    SUM(c * length(word)) AS n_word_chars,
       |    COUNT(CASE WHEN word IN ($stopList) THEN 1 END) AS stop_distinct,
       |    SUM(CASE WHEN regexp_matches(word, '^[a-z]+$$') THEN c ELSE 0 END) AS n_alpha,
       |    MAX(c) AS top_c
       |  FROM wc GROUP BY doc_id)
       |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       |  CAST(n_word_chars AS DOUBLE) / CAST(n_words AS DOUBLE) AS avg_wlen,
       |  CAST(stop_distinct AS BIGINT) AS stop_distinct,
       |  CAST(top_c AS DOUBLE) / CAST(n_words AS DOUBLE) AS top_word_frac,
       |  CAST((CASE WHEN n_words < 20 OR n_words > 80 THEN 1 ELSE 0 END) +
       |       (CASE WHEN CAST(n_word_chars AS DOUBLE) / CAST(n_words AS DOUBLE) < 3.0
       |             OR CAST(n_word_chars AS DOUBLE) / CAST(n_words AS DOUBLE) > 10.0 THEN 2 ELSE 0 END) +
       |       (CASE WHEN stop_distinct < 2 THEN 4 ELSE 0 END) +
       |       (CASE WHEN CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE) < 0.8 THEN 8 ELSE 0 END) +
       |       (CASE WHEN CAST(top_c AS DOUBLE) / CAST(n_words AS DOUBLE) > 0.2 THEN 16 ELSE 0 END)
       |    AS BIGINT) AS flags,
       |  ((CASE WHEN n_words < 20 OR n_words > 80 THEN 1 ELSE 0 END) +
       |   (CASE WHEN CAST(n_word_chars AS DOUBLE) / CAST(n_words AS DOUBLE) < 3.0
       |         OR CAST(n_word_chars AS DOUBLE) / CAST(n_words AS DOUBLE) > 10.0 THEN 2 ELSE 0 END) +
       |   (CASE WHEN stop_distinct < 2 THEN 4 ELSE 0 END) +
       |   (CASE WHEN CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE) < 0.8 THEN 8 ELSE 0 END) +
       |   (CASE WHEN CAST(top_c AS DOUBLE) / CAST(n_words AS DOUBLE) > 0.2 THEN 16 ELSE 0 END)) = 0
       |    AS keep
       |FROM pd ORDER BY doc_id""".stripMargin
  }

  // ---- sample_cap_per_source: domain frequency capping --------------------
  // The C4/CCNet-style anti-domination rule: no source (crawl host, site,
  // book series) may contribute more than CAP documents to the training
  // mix, and when a source is over cap the LONGEST documents win (length
  // as the cheap quality proxy; ties break on doc_id for determinism).
  // Differs from sample_stratified in both intent and output: that query
  // SELECTS k rows per stratum by seeded hash (uniform sampling); this one
  // ENFORCES a ceiling by rank and reports the per-source damage — the
  // rollup a curation run logs so an operator can see which domains were
  // actually truncated and how many chars survived.
  //
  // Scale shape: ONE sort-exchange on source end to end — the damage
  // report needs every row's rank (dropped rows are counted, not
  // discarded), so this is a full window pass, and the rollup reuses the
  // window's source partitioning with map-side partials. A selection-only
  // variant (emit just the survivors) would instead filter rn≤cap and
  // plan as WindowGroupLimit, never fully sorting a pathological
  // million-doc source — sample_stratified demonstrates that plan shape.
  private val sourceCap = 150
  private def capPerSource(s: SparkSession, d: String): DataFrame = {
    val ranked = T.documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("rn", row_number()
        .over(Window.partitionBy(col("source"))
          .orderBy(col("n_chars").desc, col("doc_id")))
        .cast(LongType))
    ranked
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rn") <= sourceCap, 1L).otherwise(0L)).cast(LongType)
          .as("n_kept"),
        sum(when(col("rn") > sourceCap, 1L).otherwise(0L)).cast(LongType)
          .as("n_dropped"),
        sum(when(col("rn") <= sourceCap, col("n_chars")).otherwise(0L))
          .cast(LongType).as("kept_chars"),
        min(when(col("rn") <= sourceCap, col("n_chars"))).cast(LongType)
          .as("min_kept_chars"))
      .orderBy(col("source"))
  }

  private val capPerSourceSql =
    s"""WITH ranked AS (
      |  SELECT doc_id, source, n_chars,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rn
      |  FROM documents)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN rn <= $sourceCap THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_kept,
      |  CAST(SUM(CASE WHEN rn > $sourceCap THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dropped,
      |  CAST(SUM(CASE WHEN rn <= $sourceCap THEN n_chars ELSE 0 END)
      |    AS BIGINT) AS kept_chars,
      |  CAST(MIN(CASE WHEN rn <= $sourceCap THEN n_chars END) AS BIGINT)
      |    AS min_kept_chars
      |FROM ranked GROUP BY source ORDER BY source""".stripMargin

  // ---- sample_token_budget: sharded greedy selection to a token budget ---
  // Real training mixes are specified in TOKENS, not documents: "at most B
  // tokens of language L". The selection must also be deterministic and
  // append-stable, so membership is decided by seeded-hash order (the
  // sample_hash_split rule), greedily prefix-summed until the budget.
  //
  // Scale design — the reason this is SHARDED: a single per-language
  // prefix scan is a sequential bottleneck (|langs| concurrent tasks, one
  // sort each, at any cluster size). The budget instead splits evenly
  // over 16 hash shards per language (budget/16 each) and every
  // (lang, shard) runs its own window — 16× the parallelism, same
  // determinism, and the realized total can undershoot the global budget
  // by at most (shards × max-doc-tokens), which the utilization column
  // makes visible. A doc whose tokens alone exceed the shard budget
  // blocks its shard's tail (greedy prefix contract — monotone cum never
  // re-descends); production picks shards so budget/shards ≫ max doc.
  // The rollup reuses the window's partitioning prefix, so the whole
  // report is ONE wide exchange.
  private val tokenShards = 16
  private val shardBudget = 312L // per (lang, shard); ×16 ≈ 5k tokens/lang
  private def tokenBudget(s: SparkSession, d: String): DataFrame = {
    val t = T.documents(s, d).select(col("doc_id"), col("lang"),
      size(filter(split(col("text"), " "), w => w =!= "")).cast(LongType)
        .as("n_tokens"),
      (h48(concat(lit("tbs:"), col("doc_id").cast(StringType))) % tokenShards)
        .as("shard"),
      h48(concat(lit("tbo:"), col("doc_id").cast(StringType))).as("h"))
    val w = Window.partitionBy(col("lang"), col("shard"))
      .orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.withColumn("cum", sum(col("n_tokens")).over(w))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("cum") <= shardBudget, 1L).otherwise(0L))
          .cast(LongType).as("n_kept"),
        sum(when(col("cum") <= shardBudget, col("n_tokens")).otherwise(0L))
          .cast(LongType).as("kept_tokens"))
      .withColumn("budget", lit(shardBudget * tokenShards))
      .withColumn("utilization",
        col("kept_tokens").cast(DoubleType) / col("budget").cast(DoubleType))
      .orderBy(col("lang"))
  }

  private val tokenBudgetSql =
    s"""WITH t AS (
      |  SELECT doc_id, lang,
      |    CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
      |      AS BIGINT) AS n_tokens,
      |    CAST('0x'||substring(md5('tbs:'||CAST(doc_id AS VARCHAR)),1,12)
      |      AS BIGINT) % $tokenShards AS shard,
      |    CAST('0x'||substring(md5('tbo:'||CAST(doc_id AS VARCHAR)),1,12)
      |      AS BIGINT) AS h
      |  FROM documents),
      |c AS (
      |  SELECT lang, n_tokens,
      |    SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY h, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM t)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN cum <= $shardBudget THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_kept,
      |  CAST(SUM(CASE WHEN cum <= $shardBudget THEN n_tokens ELSE 0 END)
      |    AS BIGINT) AS kept_tokens,
      |  CAST(${shardBudget * tokenShards} AS BIGINT) AS budget,
      |  CAST(SUM(CASE WHEN cum <= $shardBudget THEN n_tokens ELSE 0 END)
      |      AS DOUBLE) /
      |    CAST(${shardBudget * tokenShards} AS DOUBLE) AS utilization
      |FROM c GROUP BY lang ORDER BY lang""".stripMargin

  // ---- sample_epoch_order: deterministic interleaved training order ------
  // The epoch-shuffle primitive: a training run needs a REPRODUCIBLE
  // global order that (a) is pseudo-random within each source (seeded
  // hash, same determinism rule as sample_hash_split) and (b) interleaves
  // sources round-robin so no source forms long runs — the
  // gradient-staleness failure mode of naive per-source concatenation.
  // global_pos = (rank_within_source − 1)·|sources| + source_index is a
  // collision-free interleave; changing the seed string re-shuffles every
  // epoch without touching the data.
  //
  // Scale shape: one window per source partition assigns ranks (one
  // hash exchange on source); the source→index map is a |sources|-row
  // broadcast (its global window runs on the DISTINCT source list — tiny
  // by construction, never the corpus). The top-200 preview plans as
  // TakeOrderedAndProject — a full epoch manifest would write
  // partitionBy(global_pos div chunk) instead of limiting.
  private def epochOrder(s: SparkSession, d: String): DataFrame = {
    val srcW = Window.orderBy(col("source"))
    val srcs = T.documents(s, d).select(col("source")).distinct()
      .select(col("source"), row_number().over(srcW).as("src_idx"),
        count(lit(1)).over().as("n_src"))
    val posW = Window.partitionBy(col("source"))
      .orderBy(col("h"), col("doc_id"))
    T.documents(s, d)
      .select(col("doc_id"), col("source"),
        h48(concat(lit("eo1:"), col("doc_id").cast(StringType))).as("h"))
      .withColumn("pos", row_number().over(posW))
      .join(broadcast(srcs), Seq("source"))
      .select(((col("pos") - 1).cast(LongType) * col("n_src") +
        col("src_idx") - 1).as("global_pos"), col("source"), col("doc_id"))
      .orderBy(col("global_pos")).limit(200)
  }

  private val epochOrderSql =
    """WITH s AS (SELECT source,
      |    row_number() OVER (ORDER BY source) AS src_idx,
      |    count(*) OVER () AS n_src
      |  FROM (SELECT DISTINCT source FROM documents)),
      |d AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source
      |    ORDER BY CAST('0x' || substring(md5('eo1:' ||
      |      CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT), doc_id) AS pos
      |  FROM documents)
      |SELECT CAST((d.pos - 1) AS BIGINT) * s.n_src + s.src_idx - 1
      |    AS global_pos, d.source, d.doc_id
      |FROM d JOIN s USING (source)
      |ORDER BY global_pos LIMIT 200""".stripMargin

  // ---- curate_dup_rate: per-source duplication report --------------------
  // The provenance-level dedup report card every curation run publishes:
  // for each source, how many docs carry a fingerprint that appears more
  // than once ANYWHERE in the corpus (cross-source dups count — that is
  // the point of the report: a mirror source shows up as a high dup_frac
  // against the original). Shape: one fingerprint hash agg over the
  // corpus (map-side combined, 16-byte keys — the q30/dedup_canonical
  // shape), the count table joins back on the fingerprint (corpus-keyed
  // hash join, the exact-dedup exchange), then a source-bounded rollup.
  // dup_frac is ONE IEEE division of two exact longs — identical in both
  // engines.
  private def curateDupRate(s: SparkSession, d: String): DataFrame = {
    val docs = T.documents(s, d)
      .select(col("source"), T.textFingerprint(col("text")).as("fp"))
    val fpCounts = docs.groupBy(col("fp")).agg(count(lit(1)).as("nfp"))
    docs.join(fpCounts, Seq("fp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast(LongType).as("n_docs"),
        sum(when(col("nfp") > 1, 1L).otherwise(0L))
          .cast(LongType).as("n_dup_docs"))
      .withColumn("dup_frac",
        col("n_dup_docs").cast(DoubleType) / col("n_docs").cast(DoubleType))
      .orderBy(col("source"))
  }

  private val curateDupRateSql =
    """WITH f AS (
      |  SELECT source,
      |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
      |  FROM documents),
      |c AS (SELECT fp, COUNT(*) AS nfp FROM f GROUP BY fp)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN nfp > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dup_docs,
      |  CAST(SUM(CASE WHEN nfp > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    / CAST(COUNT(*) AS BIGINT) AS dup_frac
      |FROM f JOIN c USING (fp)
      |GROUP BY source ORDER BY source""".stripMargin

  // ---- curate_dsir_weights: importance resampling weights (DSIR) --------
  /** Data Selection via Importance Resampling (Xie et al., public):
    * score every raw document by how much its hashed-unigram profile
    * looks like the TARGET distribution (here: the `lang = 'en'` slice,
    * the high-quality-corpus stand-in) versus the raw pool. Features are
    * h48(word) % 1024 buckets (the fixed-dimension trick that makes DSIR
    * tractable at corpus scale); per-bucket importance is the
    * add-1-smoothed log-probability ratio, q6-quantized so per-doc
    * weights are EXACT long sums; top-20 docs by weight surface.
    *
    * Scale shape: two corpus scans (token bucketing + the weight join),
    * a 1024-row model table FORCE-broadcast to the token stream (never
    * left to AQE), and one doc-keyed aggregation; the model build is a
    * bucket-count aggregate — nothing grows with the corpus but the two
    * linear passes. */
  private def dsirWeights(s: SparkSession, d: String): DataFrame = {
    val B = 1024
    // r15: the token stream was re-exploded SIX times (two bucket
    // counts, two totals, the bucket domain, the final weight join) —
    // the sweep's worst absolute. The per-(doc, wh, c) relation the
    // explode fed is exactly corpusTermFreqs (same h48 hash, so
    // wh % B IS the bucket); doc attributes join back from the
    // documents table (broadcast — doc-count-sized), token counts
    // become Σc, and one Materialize.cut serves the six consumers
    // (the ≥5-consumer rule from retrieval_prf's history)
    val t = graft.core.Materialize.cut(
      TextStats.corpusTermFreqs(s, d)
        .withColumn("b", col("wh") % B)
        .join(broadcast(T.documents(s, d)
          .select(col("doc_id"), col("lang"), col("source"))), Seq("doc_id")))
    val isT = col("lang") === "en"
    def cnt(pred: org.apache.spark.sql.Column, name: String) =
      t.filter(pred).groupBy(col("b")).agg(sum(col("c")).as(name))
    // coalesce: sum-over-empty is NULL where the old count(*) was 0 —
    // a corpus with no target-language (or no raw) docs must keep the
    // smoothed denominators finite, not null out every weight
    def tot(pred: org.apache.spark.sql.Column, name: String) =
      t.filter(pred).agg(coalesce(sum(col("c")), lit(0L)).as(name))
    def q6(e: org.apache.spark.sql.Column) =
      (e.cast(DecimalType(18, 6)) * lit(1000000)).cast(LongType)
    def p(c: String, n: String) =
      (coalesce(col(c), lit(0L)) + 1L).cast(DoubleType) /
        (col(n) + B.toLong).cast(DoubleType)
    val lr = t.select(col("b")).distinct()
      .join(cnt(isT, "c_t"), Seq("b"), "left")
      .join(cnt(!isT, "c_r"), Seq("b"), "left")
      .crossJoin(broadcast(tot(isT, "n_t")))
      .crossJoin(broadcast(tot(!isT, "n_r")))
      .select(col("b"), q6(log(p("c_t", "n_t")) - log(p("c_r", "n_r")))
        .as("lrq"))
    t.join(broadcast(lr), Seq("b"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("c") * col("lrq")).as("weight_q6"))
      .orderBy(col("weight_q6").desc, col("doc_id"))
      .limit(20)
  }

  private val dsirWeightsSql =
    """WITH t AS (
      |  SELECT doc_id, lang, source,
      |    CAST('0x' || substring(md5(word), 1, 12) AS BIGINT) % 1024 AS b
      |  FROM (SELECT doc_id, lang, source,
      |          unnest(string_split(text, ' ')) AS word FROM documents)
      |  WHERE word <> ''),
      |ct AS (SELECT b, COUNT(*) AS c_t FROM t WHERE lang = 'en' GROUP BY b),
      |cr AS (SELECT b, COUNT(*) AS c_r FROM t WHERE lang <> 'en' GROUP BY b),
      |nt AS (SELECT COUNT(*) AS n_t FROM t WHERE lang = 'en'),
      |nr AS (SELECT COUNT(*) AS n_r FROM t WHERE lang <> 'en'),
      |lr AS (
      |  SELECT g.b,
      |    CAST(CAST(
      |      ln(CAST(COALESCE(ct.c_t, 0) + 1 AS DOUBLE) / CAST(nt.n_t + 1024 AS DOUBLE))
      |      - ln(CAST(COALESCE(cr.c_r, 0) + 1 AS DOUBLE) / CAST(nr.n_r + 1024 AS DOUBLE))
      |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS lrq
      |  FROM (SELECT DISTINCT b FROM t) g
      |  LEFT JOIN ct USING (b) LEFT JOIN cr USING (b)
      |  CROSS JOIN nt CROSS JOIN nr)
      |SELECT t.doc_id, t.source,
      |  CAST(SUM(lr.lrq) AS BIGINT) AS weight_q6
      |FROM t JOIN lr USING (b)
      |GROUP BY t.doc_id, t.source
      |ORDER BY weight_q6 DESC, doc_id LIMIT 20""".stripMargin

  override val defs: Seq[(String, QueryDef)] = Seq(
    "curate_dsir_weights" -> QueryDef(dsirWeights, Some(dsirWeightsSql)),
    "curate_dup_rate" -> QueryDef(curateDupRate, Some(curateDupRateSql)),
    "chunk_documents" -> QueryDef(chunkDocs, Some(chunkDocsSql)),
    "sample_epoch_order" -> QueryDef(epochOrder, Some(epochOrderSql)),
    "sample_cap_per_source" -> QueryDef(capPerSource, Some(capPerSourceSql)),
    "sample_token_budget" -> QueryDef(tokenBudget, Some(tokenBudgetSql)),
    "sample_hash_split" -> QueryDef(hashSplit, Some(hashSplitSql)),
    "sample_split_by_source" -> QueryDef(splitBySource, Some(splitBySourceSql)),
    "sample_stratified" -> QueryDef(stratified, Some(stratifiedSql)),
    "sample_mix" -> QueryDef(sampleMix, Some(sampleMixSql)),
    "sample_weighted" -> QueryDef(sampleWeighted, Some(sampleWeightedSql)),
    "curate_signal_deciles" -> QueryDef(signalDeciles, Some(signalDecilesSql)),
    "sample_mix_temperature" -> QueryDef(sampleMixTemperature, Some(sampleMixTemperatureSql)),
    "text_repetition" -> QueryDef(repetition, Some(repetitionSql)),
    "text_boilerplate" -> QueryDef(boilerplate, Some(boilerplateSql)),
    "text_pii_mask" -> QueryDef(piiMask, Some(piiMaskSql)),
    "pack_sequences" -> QueryDef(packSequences, Some(packSequencesSql)),
    "pack_sequences_bpe" -> QueryDef(packSequencesBpe, Some(packSequencesBpeSql)),
    "decontaminate_ngram" -> QueryDef(decontaminateGraded, Some(decontaminateSql)),
    "text_pii_redact" -> QueryDef(piiRedact, Some(piiRedactSql)),
    "text_dedup_spans" -> QueryDef(dedupSpans, Some(dedupSpansSql)),
    "text_dup_span_merge" -> QueryDef(dupSpanMerge, Some(dupSpanMergeSql)),
    "curate_verdict" -> QueryDef(curateVerdictGraded, Some(curateVerdictSql)),
    "curate_funnel" -> QueryDef(curateFunnel, Some(curateFunnelSql)),
    "ingest_dedup_incremental" -> QueryDef(ingestDedup, Some(ingestDedupSql)),
    "sample_importance" -> QueryDef(sampleImportance, Some(sampleImportanceSql)),
    "curate_gopher_rules" -> QueryDef(gopherRules, Some(gopherRulesSql)),
  )
}
