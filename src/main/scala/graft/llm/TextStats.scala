package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

import graft.core.{QueryDef, QueryGroup, Tables => T}

/** Text-analysis operators for the LLM-data-pipeline surface (SURVEY.md
  * §2B Q32 + extensions): per-language corpus stats, heuristic language
  * identification, quality scoring, token counting, winnowing-style
  * document fingerprints, and the binary ("multimodal") column plumbing.
  *
  * All ratio outputs are a single IEEE division of exact integers (or an
  * exact-decimal sum cast to double), so values are bit-identical across
  * engines. Everything is a hash-aggregation or window over doc_id —
  * embarrassingly parallel at 100 TB.
  */
object TextStats extends QueryGroup {
  import Dedup.{words, shingles}
  import T.dec

  private val stopwords = Seq("the", "a", "of", "and", "is")

  // ---- Q32: per-language corpus statistics ------------------------------
  private def q32(s: SparkSession, d: String): DataFrame = {
    val docs = T.documents(s, d)
    val docAgg = docs.groupBy(col("lang")).agg(
      count(lit(1)).as("n_docs"),
      (sum(dec(col("n_chars"))).cast(DoubleType) / count(lit(1))).as("avg_chars"))
    val wordAgg = words(docs).groupBy(col("lang")).agg(
      count(lit(1)).as("n_tokens"),
      countDistinct(col("word")).as("n_distinct_words"))
    docAgg.join(wordAgg, Seq("lang")).orderBy(col("lang"))
  }

  private val q32Sql =
    """WITH wrd AS (
      |  SELECT doc_id, lang, word FROM (
      |    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
      |    FROM documents) WHERE word <> ''),
      |da AS (
      |  SELECT lang, COUNT(*) AS n_docs,
      |    CAST(SUM(CAST(n_chars AS DECIMAL(12,4))) AS DOUBLE) / COUNT(*) AS avg_chars
      |  FROM documents GROUP BY lang),
      |wa AS (
      |  SELECT lang, COUNT(*) AS n_tokens,
      |    COUNT(DISTINCT word) AS n_distinct_words
      |  FROM wrd GROUP BY lang)
      |SELECT da.lang AS lang, n_docs, avg_chars, n_tokens, n_distinct_words
      |FROM da JOIN wa ON da.lang = wa.lang ORDER BY lang""".stripMargin

  // ---- Language ID: charset + stopword heuristic ------------------------
  // N-gram/charset heuristic per SURVEY extension list: CJK block → zh,
  // German/French/Spanish diacritics, else English stopword test.
  private def langId(s: SparkSession, d: String): DataFrame =
    T.documents(s, d).select(
      col("doc_id"), col("lang"),
      when(col("text").rlike("[一-鿿]"), "zh")
        .when(col("text").rlike("[äöüß]"), "de")
        .when(col("text").rlike("[éèêàç]"), "fr")
        .when(col("text").rlike("[ñ¡¿áí]"), "es")
        .when(col("text").rlike("(^| )(the|a|is|of|and)( |$)"), "en")
        .otherwise("und").as("pred_lang"))
      .withColumn("is_match", col("pred_lang") === col("lang"))
      .orderBy(col("doc_id"))

  private val langIdSql =
    """SELECT doc_id, lang,
      |  CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
      |       WHEN regexp_matches(text, '[äöüß]') THEN 'de'
      |       WHEN regexp_matches(text, '[éèêàç]') THEN 'fr'
      |       WHEN regexp_matches(text, '[ñ¡¿áí]') THEN 'es'
      |       WHEN regexp_matches(text, '(^| )(the|a|is|of|and)( |$)') THEN 'en'
      |       ELSE 'und' END AS pred_lang,
      |  (CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
      |       WHEN regexp_matches(text, '[äöüß]') THEN 'de'
      |       WHEN regexp_matches(text, '[éèêàç]') THEN 'fr'
      |       WHEN regexp_matches(text, '[ñ¡¿áí]') THEN 'es'
      |       WHEN regexp_matches(text, '(^| )(the|a|is|of|and)( |$)') THEN 'en'
      |       ELSE 'und' END) = lang AS is_match
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- Quality scoring: length/stopword/word-shape ratios ---------------
  private[llm] def quality(s: SparkSession, d: String): DataFrame = {
    val wq = words(T.documents(s, d)).groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_words"),
      sum(when(col("word").isin(stopwords: _*), 1).otherwise(0)).as("n_stop"),
      sum(length(col("word"))).as("n_word_chars"))
    T.documents(s, d).select(col("doc_id"), col("n_chars"))
      .join(wq, Seq("doc_id"))
      .withColumn("stop_ratio",
        col("n_stop").cast(DoubleType) / col("n_words").cast(DoubleType))
      .withColumn("avg_word_len",
        col("n_word_chars").cast(DoubleType) / col("n_words").cast(DoubleType))
      .withColumn("score",
        col("stop_ratio") * 0.5 +
          least(col("n_words"), lit(100)).cast(DoubleType) / 200.0)
      .select(col("doc_id"), col("n_words"), col("n_stop"),
        col("stop_ratio"), col("avg_word_len"), col("score"))
      .orderBy(col("doc_id"))
  }

  private val qualitySql =
    """WITH wrd AS (
      |  SELECT doc_id, word FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |    FROM documents) WHERE word <> ''),
      |wq AS (
      |  SELECT doc_id, COUNT(*) AS n_words,
      |    CAST(SUM(CASE WHEN word IN ('the','a','of','and','is') THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
      |    SUM(length(word)) AS n_word_chars
      |  FROM wrd GROUP BY doc_id)
      |SELECT d.doc_id AS doc_id, n_words, n_stop,
      |  CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE) AS stop_ratio,
      |  CAST(n_word_chars AS DOUBLE) / CAST(n_words AS DOUBLE) AS avg_word_len,
      |  CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE) * 0.5 +
      |    CAST(least(n_words, 100) AS DOUBLE) / 200.0 AS score
      |FROM documents d JOIN wq ON d.doc_id = wq.doc_id
      |ORDER BY doc_id""".stripMargin

  // ---- Token counting: whitespace + regex ("BPE-ish") tokenizers --------
  private def tokens(s: SparkSession, d: String): DataFrame =
    T.documents(s, d).select(
      col("doc_id"),
      size(split(col("text"), " ")).cast(LongType).as("ws_tokens"),
      regexp_count(col("text"), lit("[a-z0-9]+")).cast(LongType).as("re_tokens"),
      size(array_distinct(split(col("text"), " "))).cast(LongType).as("distinct_tokens"),
      (col("n_chars").cast(DoubleType) /
        size(split(col("text"), " ")).cast(DoubleType)).as("chars_per_token"))
      .orderBy(col("doc_id"))

  private val tokensSql =
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS re_tokens,
      |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS distinct_tokens,
      |  CAST(n_chars AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE) AS chars_per_token
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- Winnowing-style fingerprint: 3 smallest shingle hashes per doc ---
  // The fingerprint is a 48-bit md5-prefix long, computed BEFORE the
  // distinct + window, so both shuffles carry 8-byte keys instead of raw
  // 5-word shingle strings — hashing first is what survives 100 TB
  // (2^-48 collision odds; distinct-per-doc makes the window order total).
  private def winnow(s: SparkSession, d: String): DataFrame = {
    val dsh = Dedup.shingleHashes(s, d)
      .select(col("doc_id"), col("shh").as("h"))
      .distinct()
    val w = Window.partitionBy(col("doc_id")).orderBy(col("h"))
    dsh.withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("rn"), col("h"))
      .orderBy(col("doc_id"), col("rn"))
  }

  // ---- Edit-distance re-rank of simhash candidates ----------------------
  // Levenshtein is quadratic per pair — never run it all-pairs. The
  // blocked shape: the banded simhash join proposes a BOUNDED candidate
  // set (hot-band cap), and the exact edit distance re-ranks only those,
  // on an 80-char prefix so the per-pair cost is a constant. Both engines
  // implement classic Levenshtein, so the metric is oracle-portable.
  private def editDistance(s: SparkSession, d: String): DataFrame = {
    val pre = T.documents(s, d).select(col("doc_id"),
      substring(col("text"), 1, 80).as("pre"))
    Dedup.simhashPairs(s, d)
      .join(pre.select(col("doc_id").as("doc_a"), col("pre").as("pre_a")), Seq("doc_a"))
      .join(pre.select(col("doc_id").as("doc_b"), col("pre").as("pre_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("hamming"),
        levenshtein(col("pre_a"), col("pre_b")).cast(LongType).as("lev80"),
        (levenshtein(col("pre_a"), col("pre_b")).cast(DoubleType) /
          greatest(length(col("pre_a")), length(col("pre_b")))
            .cast(DoubleType)).as("lev_frac"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val editDistanceSql =
    s"""${Dedup.simhashPairsCte},
       |spairs AS (
       |  SELECT doc_a, doc_b,
       |    CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
       |  FROM pairs WHERE bit_count(xor(sig_a, sig_b)) <= 5),
       |pre AS (SELECT doc_id, substring(text, 1, 80) AS pre FROM documents)
       |SELECT doc_a, doc_b, hamming,
       |  CAST(levenshtein(a.pre, b.pre) AS BIGINT) AS lev80,
       |  CAST(levenshtein(a.pre, b.pre) AS DOUBLE) /
       |    CAST(greatest(length(a.pre), length(b.pre)) AS DOUBLE) AS lev_frac
       |FROM spairs
       |JOIN pre a ON a.doc_id = doc_a
       |JOIN pre b ON b.doc_id = doc_b
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- Rare-word (OOV-style) quality signal -----------------------------
  // Per doc: how much of it is words NOBODY else uses (corpus document
  // frequency 1) — high rare-word mass flags gibberish/OCR junk the way
  // an out-of-vocabulary rate does, without shipping a vocabulary. Words
  // are 48-bit-hashed before the df aggregation (8-byte shuffle keys, the
  // Dedup.scala rule); df counts DISTINCT docs, the per-doc sum counts
  // occurrences. Ratio = one IEEE division of exact longs → portable.
  private def rareWords(s: SparkSession, d: String): DataFrame = {
    val occ = words(T.documents(s, d)).select(col("doc_id"),
      Dedup.h48(col("word")).as("wh"))
    // Pre-aggregate per (doc, word) FIRST: that shuffle key is never hot
    // (a word repeats within one doc, not across the corpus on one key),
    // and everything downstream runs on distinct pairs. The previous
    // shape joined every raw occurrence against the full vocabulary on
    // Zipf-skewed `wh` — a hot-key shuffle at 100x scale.
    val pdw = occ.groupBy(col("doc_id"), col("wh"))
      .agg(count(lit(1)).as("cnt"))
      .cache() // read three times below (df, totals, rare-mass join)
    // df=1 words appear in exactly ONE doc, so this join is 1:1 per key —
    // skew-proof by construction: every wh key carries exactly one row on
    // EACH side, so a shuffle join is perfectly balanced. No broadcast
    // hint: hapax legomena are the LARGEST slice of a natural-language
    // vocabulary (Zipf), so forcing the rare side to the driver would OOM
    // at 100 TB; AQE still picks broadcast on its own when the set is
    // genuinely small.
    val rare = pdw.groupBy(col("wh")).agg(count(lit(1)).as("df"))
      .filter(col("df") === 1).select(col("wh"))
    val rareMass = pdw.join(rare, Seq("wh"))
      .groupBy(col("doc_id")).agg(sum(col("cnt")).as("n_rare"))
    pdw.groupBy(col("doc_id")).agg(sum(col("cnt")).as("n_words"))
      .join(rareMass, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("n_rare"), lit(0L)).cast(LongType).as("n_rare"))
      .withColumn("rare_frac",
        col("n_rare").cast(DoubleType) / col("n_words").cast(DoubleType))
      .orderBy(col("doc_id"))
  }

  private val rareWordsSql =
    """WITH occ AS (
      |  SELECT doc_id, CAST('0x'||substring(md5(word),1,12) AS BIGINT) AS wh
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |        FROM documents) WHERE word <> ''),
      |pdw AS (SELECT doc_id, wh, COUNT(*) AS cnt FROM occ GROUP BY doc_id, wh),
      |rare AS (SELECT wh FROM pdw GROUP BY wh HAVING COUNT(*) = 1),
      |tot AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_words
      |        FROM pdw GROUP BY doc_id),
      |rm AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_rare
      |       FROM pdw JOIN rare USING (wh) GROUP BY doc_id)
      |SELECT tot.doc_id, n_words,
      |  COALESCE(n_rare, 0) AS n_rare,
      |  CAST(COALESCE(n_rare, 0) AS DOUBLE) / CAST(n_words AS DOUBLE) AS rare_frac
      |FROM tot LEFT JOIN rm USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  private val winnowSql =
    """WITH wrd AS (
      |  SELECT doc_id, word, pos FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS word,
      |           generate_subscripts(string_split(text, ' '), 1) AS pos
      |    FROM documents) WHERE word <> ''),
      |shg AS (
      |  SELECT doc_id, sh FROM (
      |    SELECT doc_id,
      |      string_agg(word, ' ') OVER (PARTITION BY doc_id ORDER BY pos
      |        ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS sh,
      |      COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
      |        ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS n_in
      |    FROM wrd) WHERE n_in = 5),
      |hashed AS (SELECT DISTINCT doc_id,
      |  CAST('0x' || substring(md5(sh), 1, 12) AS BIGINT) AS h FROM shg)
      |SELECT doc_id, rn, h FROM (
      |  SELECT doc_id, h, CAST(ROW_NUMBER() OVER (
      |    PARTITION BY doc_id ORDER BY h) AS BIGINT) AS rn
      |  FROM hashed)
      |WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin

  // ---- TF-IDF: top terms per document -----------------------------------
  // Two hash aggregations (tf, df) + one broadcast of the corpus size;
  // ranking reuses the WindowGroupLimit pushdown. Scores are rounded
  // through DECIMAL(18,6) so the ln() libm tail can't break parity, and
  // ties (same tf, df) rank identically in both engines via the word
  // tiebreaker.
  private def tfidf(s: SparkSession, d: String): DataFrame = {
    val w = words(T.documents(s, d))
    val tf = w.groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val n = T.documents(s, d).agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df_, Seq("word")).crossJoin(broadcast(n))
      .withColumn("score",
        (col("tf") * log(col("n_docs").cast(DoubleType) / col("df")))
          .cast(DecimalType(18, 6)))
    val wnd = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("word"))
    scored.withColumn("rn", row_number().over(wnd).cast(LongType))
      .filter(col("rn") <= 3)
      // ranking stays on the exact decimal; the output layer casts DOUBLE
      .select(col("doc_id"), col("rn"), col("word"),
        col("score").cast(DoubleType).as("score"))
      .orderBy(col("doc_id"), col("rn"))
  }

  private val tfidfSql =
    """WITH wrd AS (
      |  SELECT doc_id, word FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |    FROM documents) WHERE word <> ''),
      |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM wrd GROUP BY doc_id, word),
      |dfq AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents)
      |SELECT doc_id, rn, word, CAST(score AS DOUBLE) AS score FROM (
      |  SELECT doc_id, word,
      |    CAST(tf * ln(CAST(n_docs AS DOUBLE) / df) AS DECIMAL(18,6)) AS score,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
      |      ORDER BY CAST(tf * ln(CAST(n_docs AS DOUBLE) / df) AS DECIMAL(18,6)) DESC,
      |               word) AS BIGINT) AS rn
      |  FROM tf JOIN dfq USING (word) CROSS JOIN n)
      |WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin

  // ---- Bigram collocations by lift (PMI-monotonic) -----------------------
  // Which word pairs co-occur more than chance predicts — the phrase-mining
  // primitive (new-term discovery, tokenizer-merge candidates). Scored by
  // lift = p(ab) / (p(a)·p(b)); log(lift) IS pointwise mutual information,
  // and log is monotonic, so ranking by the rational lift avoids the libm
  // ln() whose last-ulp tail differs between engines. lift is a pinned
  // left-to-right IEEE expression over exact BIGINT counts → bit-identical.
  //
  // Shape: two hash aggs (unigrams, 2-gram shingles via the codegen'd
  // Shingles expression) + two joins keyed on single words. Both join
  // inputs are POST-aggregation (one row per distinct word / bigram), so
  // the join cardinality is vocabulary-bounded, not corpus-bounded — the
  // raw token stream never shuffles twice. Global top-20 is a
  // TakeOrderedAndProject (no single-partition window).
  private def collocations(s: SparkSession, d: String): DataFrame = {
    val docs = T.documents(s, d)
    val uni = words(docs).groupBy(col("word")).agg(count(lit(1)).as("c"))
    val big = docs
      .select(explode(graft.functions.Shingles.shingleNgrams(col("text"), 2)).as("sh"))
      .groupBy(col("sh")).agg(count(lit(1)).as("c_ab"))
      .withColumn("w1", split(col("sh"), " ").getItem(0))
      .withColumn("w2", split(col("sh"), " ").getItem(1))
    val nUni = uni.agg(sum(col("c")).cast(LongType).as("n_uni"))
    val nBi = big.agg(sum(col("c_ab")).cast(LongType).as("n_bi"))
    big.filter(col("c_ab") >= 3)
      .join(uni.select(col("word").as("w1"), col("c").as("c_a")), Seq("w1"))
      .join(uni.select(col("word").as("w2"), col("c").as("c_b")), Seq("w2"))
      .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBi))
      .select(col("w1"), col("w2"), col("c_ab"), col("c_a"), col("c_b"),
        (col("c_ab").cast(DoubleType) * col("n_uni") * col("n_uni") /
          (col("c_a").cast(DoubleType) * col("c_b") * col("n_bi"))).as("lift"))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(20)
  }

  private val collocationsSql =
    """WITH wrd AS (
      |  SELECT doc_id, word, pos FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS word,
      |           generate_subscripts(string_split(text, ' '), 1) AS pos
      |    FROM documents) WHERE word <> ''),
      |big AS (
      |  SELECT sh, COUNT(*) AS c_ab FROM (
      |    SELECT doc_id,
      |      string_agg(word, ' ') OVER (PARTITION BY doc_id ORDER BY pos
      |        ROWS BETWEEN CURRENT ROW AND 1 FOLLOWING) AS sh,
      |      COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
      |        ROWS BETWEEN CURRENT ROW AND 1 FOLLOWING) AS n_in
      |    FROM wrd) WHERE n_in = 2 GROUP BY sh),
      |uni AS (SELECT word, COUNT(*) AS c FROM wrd GROUP BY word),
      |nu AS (SELECT CAST(SUM(c) AS BIGINT) AS n_uni FROM uni),
      |nb AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS n_bi FROM big)
      |SELECT split_part(sh, ' ', 1) AS w1, split_part(sh, ' ', 2) AS w2,
      |  c_ab, a.c AS c_a, b.c AS c_b,
      |  CAST(c_ab AS DOUBLE) * n_uni * n_uni /
      |    (CAST(a.c AS DOUBLE) * b.c * n_bi) AS lift
      |FROM big JOIN uni a ON a.word = split_part(sh, ' ', 1)
      |         JOIN uni b ON b.word = split_part(sh, ' ', 2)
      |CROSS JOIN nu CROSS JOIN nb
      |WHERE c_ab >= 3
      |ORDER BY lift DESC, w1, w2 LIMIT 20""".stripMargin

  // ---- Unigram-LM cross-entropy (perplexity-proxy quality filter) --------
  // The CCNet-style quality signal: score each document by the average
  // negative log-probability of its words under the corpus's own unigram
  // model — gibberish and boilerplate-free junk score high, fluent text
  // scores near the corpus entropy. h is in nats; perplexity = e^h (left
  // to the caller — no second libm call in the compare path).
  //
  // Portability: ln() is libm and its last ulp is NOT contract across
  // engines, so each word's logp is rounded through DECIMAL(18,6) once
  // (the text_tfidf precedent); everything after is exact decimal
  // arithmetic until one final pinned IEEE division. Words are 48-bit
  // hashed before any shuffle. The tf ⋈ vocab join: the vocabulary table
  // is distinct words (small vs the corpus — AQE broadcasts it); if it
  // ever outgrows broadcast, the build side is unique per key, which is
  // exactly the shape AQE's skew-split handles.
  private def perplexity(s: SparkSession, d: String): DataFrame = {
    // cached: the vocab model and the scoring join both read it within
    // this one timed query
    val tf = corpusTermFreqs(s, d).cache()
    val voc = tf.groupBy(col("wh")).agg(sum(col("c")).cast(LongType).as("cw"))
    val n = voc.agg(sum(col("cw")).cast(LongType).as("nt"))
    val lp = voc.crossJoin(broadcast(n))
      .select(col("wh"),
        log(col("cw").cast(DoubleType) / col("nt")).cast(DecimalType(18, 6)).as("logp"))
    tf.join(lp, Seq("wh"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast(LongType).as("n_words"),
        (negate(sum(col("c") * col("logp")).cast(DoubleType)) /
          sum(col("c")).cast(LongType)).as("h_nats"))
      .orderBy(col("doc_id"))
  }

  private val perplexitySql =
    """WITH occ AS (
      |  SELECT doc_id, CAST('0x'||substring(md5(word),1,12) AS BIGINT) AS wh
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |        FROM documents) WHERE word <> ''),
      |tf AS (SELECT doc_id, wh, COUNT(*) AS c FROM occ GROUP BY doc_id, wh),
      |voc AS (SELECT wh, CAST(SUM(c) AS BIGINT) AS cw FROM tf GROUP BY wh),
      |n AS (SELECT CAST(SUM(cw) AS BIGINT) AS nt FROM voc),
      |lp AS (SELECT wh, CAST(ln(CAST(cw AS DOUBLE) / nt) AS DECIMAL(18,6)) AS logp
      |       FROM voc CROSS JOIN n)
      |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
      |  -CAST(SUM(c * logp) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS h_nats
      |FROM tf JOIN lp USING (wh) GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- text_bigram_lm: interpolated bigram cross-entropy -----------------
  // The order-2 upgrade of text_perplexity (the CCNet-style quality
  // filter): score each doc under an interpolated bigram corpus model
  // p(w2|w1) = 0.7·c(w1,w2)/c(w1·) + 0.3·c(w2)/N — the Jelinek-Mercer
  // mixture that backs off to the unigram model for unseen contexts, so
  // every observed bigram has positive probability. A unigram model
  // can't see scrambled word order; this one penalizes it (spec proves
  // a shuffled doc scores strictly worse than its natural-order twin).
  //
  // Shape: bigram occurrences come from ONE lead() window over the
  // positioned word stream (a single doc_id exchange), Materialize.cut
  // so its TWO consumers (the model build and the scoring join) share
  // one compute — r11's driver gate proved the uncut twin subtree is an
  // invitation for a plan flip (19.9 s vs the builder's 2.1 s). The
  // model tables are (h1,h2) and (h) hash aggs over 48-bit hashed
  // words — vocabulary-bounded (≤|V|²+|V| rows), and the scoring joins
  // are broadcast()-FORCED, not left to AQE size stats: a
  // vocabulary-bounded table that must broadcast for the plan to be
  // sane should not depend on which JVM estimated its size
  // (PlanSpec pins the shape). At a corpus whose bigram-type count
  // outgrows driver memory the right plan is the shuffle join AQE would
  // pick anyway — SCALING.md carries that boundary. Portability: the
  // mixture is a fixed chain of IEEE ops inside ONE ln(), rounded once
  // through DECIMAL(18,6) per distinct bigram (the tfidf/perplexity libm
  // rule); per-doc sums are exact decimals and the final /n is one IEEE
  // division. Docs with <2 words have no bigrams and are absent —
  // unscorable, like the tfidf family's empty docs.
  /** The positioned 48-bit-hashed token stream the bigram window runs
    * over — exposed so consumers can share ONE corpus scan between the
    * bigram counts and a unigram aggregation. */
  private[llm] def positionedHashes(s: SparkSession, dir: String): DataFrame =
    words(T.documents(s, dir))
      .select(col("doc_id"), col("pos"), Dedup.h48(col("word")).as("wh"))

  /** The bigram-count window+agg over a prebuilt positioned stream. */
  private[llm] def bigramCountsFrom(pos: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    pos.withColumn("wh2", lead(col("wh"), 1).over(w))
      .filter(col("wh2").isNotNull)
      .groupBy(col("doc_id"), col("wh").as("h1"), col("wh2").as("h2"))
      .agg(count(lit(1)).as("c"))
  }

  /** The per-doc bigram counts (doc_id, h1, h2, c) — `text_bigram_lm`
    * and `text_kneser_ney` both start from this lead()-window
    * aggregation over the positioned token stream. */
  private[llm] def bigramCounts(s: SparkSession, dir: String): DataFrame =
    bigramCountsFrom(positionedHashes(s, dir))

  private def bigramLm(s: SparkSession, d: String): DataFrame = {
    // both the bigram counts and the unigram counts derive from ONE
    // cached pass over the positioned token stream (the bigram window
    // and the unigram agg share the scan; count(*) per wh over the
    // stream ≡ Σ per-doc termFreqs c). The cache is in-plan — released
    // by the harness after the query.
    val pos = positionedHashes(s, d).cache()
    val bg = bigramCountsFrom(pos).cache()
    val bgModel = bg.groupBy(col("h1"), col("h2"))
      .agg(sum(col("c")).cast(LongType).as("cb"))
    // |V|-bounded; cut so its three consumers (two model joins + the
    // corpus total) share one aggregation.
    val uni = graft.core.Materialize.cut(
      pos.groupBy(col("wh"))
        .agg(count(lit(1)).cast(LongType).as("cu")))
    val n = uni.agg(sum(col("cu")).cast(LongType).as("nt"))
    val lp = bgModel
      .join(broadcast(uni.select(col("wh").as("h1"), col("cu").as("cu1"))),
        Seq("h1"))
      .join(broadcast(uni.select(col("wh").as("h2"), col("cu").as("cu2"))),
        Seq("h2"))
      .crossJoin(broadcast(n))
      .select(col("h1"), col("h2"),
        log(lit(0.7) * (col("cb").cast(DoubleType) / col("cu1").cast(DoubleType)) +
          lit(0.3) * (col("cu2").cast(DoubleType) / col("nt").cast(DoubleType)))
          .cast(DecimalType(18, 6)).as("logp"))
    bg.join(broadcast(lp), Seq("h1", "h2"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast(LongType).as("n_bigrams"),
        (negate(sum(col("c") * col("logp")).cast(DoubleType)) /
          sum(col("c")).cast(LongType)).as("h2_nats"))
      .orderBy(col("doc_id"))
  }

  private val bigramLmSql =
    """WITH occ AS (
      |  SELECT doc_id, pos,
      |    CAST('0x'||substring(md5(word),1,12) AS BIGINT) AS wh
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word,
      |          generate_subscripts(string_split(text, ' '), 1) AS pos
      |        FROM documents) WHERE word <> ''),
      |bgocc AS (
      |  SELECT doc_id, wh AS h1,
      |    lead(wh) OVER (PARTITION BY doc_id ORDER BY pos) AS h2
      |  FROM occ),
      |bg AS (SELECT doc_id, h1, h2, COUNT(*) AS c FROM bgocc
      |       WHERE h2 IS NOT NULL GROUP BY doc_id, h1, h2),
      |bgm AS (SELECT h1, h2, CAST(SUM(c) AS BIGINT) AS cb FROM bg GROUP BY h1, h2),
      |uni AS (SELECT wh, COUNT(*) AS cu FROM occ GROUP BY wh),
      |n AS (SELECT CAST(SUM(cu) AS BIGINT) AS nt FROM uni),
      |lp AS (
      |  SELECT m.h1, m.h2,
      |    CAST(ln(0.7 * (CAST(m.cb AS DOUBLE) / CAST(u1.cu AS DOUBLE)) +
      |            0.3 * (CAST(u2.cu AS DOUBLE) / CAST(n.nt AS DOUBLE)))
      |      AS DECIMAL(18,6)) AS logp
      |  FROM bgm m
      |  JOIN uni u1 ON u1.wh = m.h1
      |  JOIN uni u2 ON u2.wh = m.h2
      |  CROSS JOIN n)
      |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
      |  -CAST(SUM(c * logp) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS h2_nats
      |FROM bg JOIN lp USING (h1, h2) GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- text_kneser_ney: interpolated Kneser-Ney bigram cross-entropy -----
  // The standard n-gram smoothing (Kneser & Ney 1995, interpolated form
  // with fixed discount D = 0.75):
  //   p(w2|w1) = (c(w1,w2) − D)/c(w1·) + λ(w1)·p_cont(w2)
  //   λ(w1)    = D · N1+(w1·) / c(w1·)
  //   p_cont(w2) = N1+(·w2) / N1+(··)
  // where N1+ counts DISTINCT bigram types. The continuation
  // distribution is what distinguishes KN from the Jelinek-Mercer
  // mixture of text_bigram_lm: a word that is frequent but glued to one
  // context ("francisco") gets a LOW backoff weight — frequency of
  // novel-context appearance, not raw frequency. Scored bigrams are
  // corpus-observed (the corpus includes the doc), so c ≥ 1 > D and
  // every probability is positive.
  //
  // Shape: identical to text_bigram_lm — one lead() window (single
  // doc_id exchange) for doc bigrams, then every model table is a hash
  // agg over the (h1,h2) bigram-type relation: c(w1·) and N1+(w1·)
  // group by h1, N1+(·w2) group by h2, N1+(··) is one scalar. All
  // vocabulary-bounded (≤|V|²+2|V| rows), and — like text_bigram_lm
  // after the r11 gate flip — the scoring joins are broadcast()-FORCED
  // and the shared bg window table is Materialize.cut, so the plan is
  // the same in every JVM (PlanSpec pins it). Portability: the whole
  // mixture is a fixed IEEE chain inside ONE ln(), rounded once through
  // DECIMAL(18,6) per distinct bigram; per-doc sums are exact decimals
  // and the final /n is one IEEE division. Docs with <2 words are
  // absent (unscorable).
  private def kneserNey(s: SparkSession, d: String): DataFrame = {
    // cached because bg feeds both the model aggregation and the final
    // scoring join (in-plan cache, released by the harness after the
    // query)
    val bg = bigramCounts(s, d).cache()
    val bgModel = graft.core.Materialize.cut(
      bg.groupBy(col("h1"), col("h2"))
        .agg(sum(col("c")).cast(LongType).as("cb")))
    // context totals and left-type counts share one h1 aggregation
    val ctx = bgModel.groupBy(col("h1"))
      .agg(sum(col("cb")).cast(LongType).as("ct1"),
        count(lit(1)).cast(LongType).as("nt1"))
    val cont = bgModel.groupBy(col("h2"))
      .agg(count(lit(1)).cast(LongType).as("nr2"))
    val nTypes = bgModel.agg(count(lit(1)).cast(LongType).as("nb"))
    val lp = bgModel
      .join(broadcast(ctx), Seq("h1"))
      .join(broadcast(cont), Seq("h2"))
      .crossJoin(broadcast(nTypes))
      .select(col("h1"), col("h2"),
        log((col("cb").cast(DoubleType) - lit(0.75)) /
            col("ct1").cast(DoubleType) +
          (lit(0.75) * col("nt1").cast(DoubleType) /
            col("ct1").cast(DoubleType)) *
          (col("nr2").cast(DoubleType) / col("nb").cast(DoubleType)))
          .cast(DecimalType(18, 6)).as("logp"))
    bg.join(broadcast(lp), Seq("h1", "h2"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast(LongType).as("n_bigrams"),
        (negate(sum(col("c") * col("logp")).cast(DoubleType)) /
          sum(col("c")).cast(LongType)).as("kn_nats"))
      .orderBy(col("doc_id"))
  }

  private val kneserNeySql =
    """WITH occ AS (
      |  SELECT doc_id, pos,
      |    CAST('0x'||substring(md5(word),1,12) AS BIGINT) AS wh
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word,
      |          generate_subscripts(string_split(text, ' '), 1) AS pos
      |        FROM documents) WHERE word <> ''),
      |bgocc AS (
      |  SELECT doc_id, wh AS h1,
      |    lead(wh) OVER (PARTITION BY doc_id ORDER BY pos) AS h2
      |  FROM occ),
      |bg AS (SELECT doc_id, h1, h2, COUNT(*) AS c FROM bgocc
      |       WHERE h2 IS NOT NULL GROUP BY doc_id, h1, h2),
      |bgm AS MATERIALIZED (
      |  SELECT h1, h2, CAST(SUM(c) AS BIGINT) AS cb FROM bg GROUP BY h1, h2),
      |ctx AS (SELECT h1, CAST(SUM(cb) AS BIGINT) AS ct1,
      |          CAST(COUNT(*) AS BIGINT) AS nt1 FROM bgm GROUP BY h1),
      |cont AS (SELECT h2, CAST(COUNT(*) AS BIGINT) AS nr2 FROM bgm GROUP BY h2),
      |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM bgm),
      |lp AS (
      |  SELECT m.h1, m.h2,
      |    CAST(ln((CAST(m.cb AS DOUBLE) - 0.75) / CAST(x.ct1 AS DOUBLE) +
      |            (0.75 * CAST(x.nt1 AS DOUBLE) / CAST(x.ct1 AS DOUBLE)) *
      |            (CAST(r.nr2 AS DOUBLE) / CAST(nb.nb AS DOUBLE)))
      |      AS DECIMAL(18,6)) AS logp
      |  FROM bgm m
      |  JOIN ctx x ON x.h1 = m.h1
      |  JOIN cont r ON r.h2 = m.h2
      |  CROSS JOIN nb)
      |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
      |  -CAST(SUM(c * logp) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS kn_nats
      |FROM bg JOIN lp USING (h1, h2) GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- text_entropy: per-doc unigram self-entropy ------------------------
  // The information-density quality signal complementary to
  // text_perplexity: perplexity scores each doc under the CORPUS unigram
  // model (is this doc unusual?), self-entropy scores it under its OWN
  // word distribution (is this doc internally repetitive?). Low H on a
  // long doc is the keyword-stuffing / template-spam signature that
  // uniq_frac alone misses (uniq_frac cannot see a skewed-but-nonzero
  // distribution). H = −Σ (c/n)·ln(c/n) in nats.
  //
  // Shape: the (doc_id, wh, c) counts shuffle once on hashed words (the
  // 48-bit rule), the per-doc total comes from a doc_id window on the
  // re-keyed counts, and the entropy sum rides that same exchange — two
  // hash exchanges total, both on 8-byte-dominated rows. Portability:
  // each term's ln(c/n) rounds through DECIMAL(18,6) once (the
  // text_tfidf/perplexity libm rule); c·logp sums exactly in decimal and
  // ONE IEEE division closes the formula.
  private def entropy(s: SparkSession, d: String): DataFrame = {
    val tf = corpusTermFreqs(s, d)
    val tw = Window.partitionBy(col("doc_id"))
    tf.withColumn("n", sum(col("c")).over(tw).cast(LongType))
      .withColumn("logp",
        log(col("c").cast(DoubleType) / col("n").cast(DoubleType))
          .cast(DecimalType(18, 6)))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).as("n_words"),
        (negate(sum(col("c") * col("logp")).cast(DoubleType)) /
          max(col("n")).cast(DoubleType)).as("h_nats"))
      .orderBy(col("doc_id"))
  }

  private val entropySql =
    """WITH occ AS (
      |  SELECT doc_id, CAST('0x'||substring(md5(word),1,12) AS BIGINT) AS wh
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |        FROM documents) WHERE word <> ''),
      |tf AS (SELECT doc_id, wh, COUNT(*) AS c FROM occ GROUP BY doc_id, wh),
      |wn AS (SELECT doc_id, wh, c,
      |    CAST(SUM(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n FROM tf),
      |lp AS (SELECT doc_id, c, n,
      |    CAST(ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) AS DECIMAL(18,6))
      |      AS logp FROM wn)
      |SELECT doc_id, MAX(n) AS n_words,
      |  -CAST(SUM(c * logp) AS DOUBLE) / CAST(MAX(n) AS DOUBLE) AS h_nats
      |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- BM25 retrieval: probe queries over an inverted index --------------
  // The classic IR ranking primitive (and the lexical half of hybrid
  // RAG retrieval): every 100th document becomes a probe query asking its
  // own top-3 tf-idf terms, and BM25 (k1=1.2, b=0.75, Lucene-style
  // +1-smoothed idf) ranks the rest of the corpus for each probe.
  //
  // Shape: the postings table IS the (doc_id, wh, c) hash aggregation —
  // an inverted index keyed on 48-bit word hashes (8-byte shuffle keys,
  // the Dedup.scala rule). The query side collapses to ≤ 3·|probes| rows
  // of (q_doc, wh, idf) that ride a BROADCAST into the postings join, so
  // candidate generation scans only the queried terms' posting lists —
  // never a corpus cross. Per-doc length joins on doc_id (both sides
  // post-aggregation, one row per doc); corpus stats are a 1-row
  // broadcast. At 100 TB the missing refinement is WAND/max-score
  // pruning of long posting lists — the shuffle shape already matches a
  // distributed inverted index.
  //
  // Parity: idf and each per-term contribution round through a decimal
  // once right after the libm ln() (the text_tfidf rule); the per-doc
  // score is an exact DECIMAL(20,10) sum — order-free — whose unscaled
  // value stays ≪ 2^53 (score ≤ ~10²), clear of DuckDB's wide-decimal
  // double-rounding (operators/Profiling.scala:116). Ranking ties break
  // on doc_id; term ties on wh.
  /** BM25 score table (q_doc, doc_id, score_dec, n_terms) before the
    * top-k rank — shared by the `text_bm25` output and the hybrid
    * `retrieval_rrf` fusion so the lexical scores cannot drift between
    * the two surfaces. */
  /** The postings/term-frequency table (doc_id, wh, c) — the inverted
    * index's row set, derived from the corpus. Shared by the inline
    * BM25 surfaces and `PostingsIndex.build`, so the persisted index
    * can never hold different rows than the per-query derivation. */
  private[graft] def termFreqs(docs: DataFrame): DataFrame =
    words(docs)
      .select(col("doc_id"), Dedup.h48(col("word")).as("wh"))
      .groupBy(col("doc_id"), col("wh")).agg(count(lit(1)).as("c"))

  /** The corpus term-frequency relation, derived from the base table —
    * the per-doc token substrate of `text_perplexity`, `text_entropy`,
    * `text_classifier`, `retrieval_prf`, `text_repetition`'s word half
    * and the curation decile signals. Arbitrary-docs callers (streaming
    * batches, probe slices) use [[termFreqs]] directly. */
  private[llm] def corpusTermFreqs(s: SparkSession, d: String): DataFrame =
    termFreqs(T.documents(s, d))

  /** The retrieval probe rule, ONE definition for every surface (inline
    * BM25, RRF's two halves, the persisted postings index, the RAG demo):
    * every 100th id probes, capped at the sf0.1 id range. The cap is the
    * scale-honesty knob: probe QPS is EXTERNAL to corpus size in a real
    * deployment, so the 10× scale sweep must grow the corpus, not the
    * query workload — without it the probed-candidate volume grows
    * ~quadratically in the sweep and misreads as an engine regression.
    * At the driver's sf0.001–0.1 fixtures every id is < 5000, so the cap
    * is vacuous there (boards and oracles unchanged). */
  private[graft] val probeIdCap = 5000L
  private[graft] def isProbe(id: org.apache.spark.sql.Column) =
    id % 100 === 7 && id < probeIdCap

  /** Probe query-term selection: each probe doc's top-3 tf-idf terms with
    * their Lucene-smoothed BM25 idf. ONE definition for the inline query
    * and the persisted-index path — the decimal-rounding points and the
    * (tscore, wh) tie-break are oracle-parity-critical. Inputs: the probe
    * docs' term counts, the per-term df table, and the 1-row doc count. */
  private[graft] def topIdfTerms(probeTf: DataFrame, dfTbl: DataFrame,
      nDocs: DataFrame): DataFrame = {
    val tw = Window.partitionBy(col("doc_id")).orderBy(col("tscore").desc, col("wh"))
    probeTf
      .join(dfTbl, Seq("wh")).crossJoin(broadcast(nDocs))
      .withColumn("tscore",
        (col("c") * log(col("n_docs").cast(DoubleType) / col("df")))
          .cast(DecimalType(18, 6)))
      .withColumn("rn", row_number().over(tw))
      .filter(col("rn") <= 3)
      .select(col("doc_id").as("q_doc"), col("wh"),
        log((((col("n_docs") - col("df")).cast(DoubleType) + 0.5) /
          (col("df").cast(DoubleType) + 0.5)) + 1.0)
          .cast(DecimalType(18, 6)).as("idf"))
  }

  /** BM25 candidate scoring (k1=1.2, b=0.75): query terms ride a
    * BROADCAST into the postings join so candidates are the probed
    * posting lists only; per-(probe, doc) score is an exact
    * DECIMAL(20,10) sum. ONE definition shared by `text_bm25`,
    * `retrieval_rrf`, and `PostingsIndex.search` — the contrib formula
    * and its single decimal rounding must not drift between them. */
  private[llm] def bm25Score(postings: DataFrame, qterms: DataFrame,
      dl: DataFrame, avgdl: DataFrame,
      keepPairs: Option[DataFrame] = None): DataFrame =
    keepPairs.foldLeft(
      postings.join(broadcast(qterms), Seq("wh"))
        .filter(col("doc_id") =!= col("q_doc")))(
      // max-score path: restrict the (probe, doc) pairs BEFORE the
      // length join and the scoring aggregation — the rows the pruning
      // saves are exactly the expensive ones
      (c, keep) => c.join(keep, Seq("q_doc", "doc_id"), "left_semi"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(avgdl))
      .withColumn("contrib",
        (col("idf").cast(DoubleType) *
          ((col("c").cast(DoubleType) * 2.2) /
            (col("c").cast(DoubleType) +
              lit(1.2) * (lit(0.25) + lit(0.75) *
                (col("dl").cast(DoubleType) / col("avgdl"))))))
          .cast(DecimalType(20, 10)))
      .groupBy(col("q_doc"), col("doc_id"))
      .agg(sum(col("contrib")).as("score_dec"),
        count(lit(1)).cast(LongType).as("n_terms"))

  /** The first-pass BM25 score table (q_doc, doc_id, score_dec
    * DECIMAL(20,10), n_terms) that `text_bm25`, `retrieval_rrf`'s
    * lexical arm and `retrieval_prf`'s feedback selection start from. */
  private[graft] def bm25Scores(s: SparkSession, d: String): DataFrame = {
    val tf = termFreqs(T.documents(s, d))
    // deliberately NOT cached: the four consumers (dl, df, probes,
    // candidates) do recompute the explode+agg, but it is not the
    // dominant cost (the join/window shuffles are) and a .cache() here
    // measured ~8% SLOWER at both sf0.1 and sf1 (in-memory-columnar
    // materialization + the codegen break outweigh the recompute). At
    // 100 TB the corpus re-scan would dominate instead: persist the
    // postings table as a parquet inverted index — that path now EXISTS
    // (graft.llm.PostingsIndex, the IvfIndex precedent) and its search
    // is spec-asserted equal to this inline derivation.
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("c")).cast(LongType).as("dl"))
    val st = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast(LongType).cast(DoubleType) /
        count(lit(1)).cast(DoubleType)).as("avgdl"))
    val df_ = tf.groupBy(col("wh")).agg(count(lit(1)).as("df"))
    // probe side: tiny (probe docs' own vocabulary) — AQE broadcasts it
    // into the df join; the window ranks within each probe only
    val qidf = topIdfTerms(tf.filter(isProbe(col("doc_id"))), df_,
      st.select(col("n_docs")))
    bm25Score(tf, qidf, dl, st.select(col("avgdl")))
  }

  private def bm25(s: SparkSession, d: String): DataFrame = {
    val rw = Window.partitionBy(col("q_doc")).orderBy(col("score_dec").desc, col("doc_id"))
    bm25Scores(s, d)
      .withColumn("rn", row_number().over(rw).cast(LongType))
      .filter(col("rn") <= 10)
      .select(col("q_doc"), col("rn"), col("doc_id"), col("n_terms"),
        col("score_dec").cast(DoubleType).as("score"))
      .orderBy(col("q_doc"), col("rn"))
  }

  /** The BM25 CTE chain through the score table `sc` — the shared prefix
    * of the `text_bm25` and `retrieval_rrf` oracles (mirror of
    * [[bm25Scores]]). */
  private val bm25Cte =
    """WITH occ AS (
      |  SELECT doc_id, CAST('0x'||substring(md5(word),1,12) AS BIGINT) AS wh
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |        FROM documents) WHERE word <> ''),
      |tf AS (SELECT doc_id, wh, COUNT(*) AS c FROM occ GROUP BY doc_id, wh),
      |dl AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
      |st AS (SELECT COUNT(*) AS n_docs,
      |  CAST(CAST(SUM(dl) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
      |  FROM dl),
      |dfq AS (SELECT wh, COUNT(*) AS df FROM tf GROUP BY wh),
      |qt AS (
      |  SELECT doc_id AS q_doc, wh, idf FROM (
      |    SELECT tf.doc_id, tf.wh,
      |      CAST(ln(((CAST(n_docs - df AS DOUBLE) + 0.5) /
      |        (CAST(df AS DOUBLE) + 0.5)) + 1.0) AS DECIMAL(18,6)) AS idf,
      |      ROW_NUMBER() OVER (PARTITION BY tf.doc_id
      |        ORDER BY CAST(c * ln(CAST(n_docs AS DOUBLE) / df) AS DECIMAL(18,6)) DESC,
      |                 tf.wh) AS rn
      |    FROM tf JOIN dfq USING (wh) CROSS JOIN st
      |    WHERE tf.doc_id % 100 = 7 AND tf.doc_id < 5000)
      |  WHERE rn <= 3),
      |cand AS (
      |  SELECT q_doc, tf.doc_id AS doc_id,
      |    CAST(CAST(idf AS DOUBLE) *
      |      ((CAST(c AS DOUBLE) * 2.2) /
      |        (CAST(c AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))))
      |      AS DECIMAL(20,10)) AS contrib
      |  FROM tf JOIN qt USING (wh) JOIN dl ON tf.doc_id = dl.doc_id
      |  CROSS JOIN st
      |  WHERE tf.doc_id <> q_doc),
      |sc AS (SELECT q_doc, doc_id, SUM(contrib) AS score_dec,
      |         CAST(COUNT(*) AS BIGINT) AS n_terms
      |       FROM cand GROUP BY q_doc, doc_id)""".stripMargin

  private val bm25Sql = bm25Cte +
    """
      |SELECT q_doc, rn, doc_id, n_terms, CAST(score_dec AS DOUBLE) AS score FROM (
      |  SELECT q_doc, doc_id, n_terms, score_dec,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY q_doc
      |      ORDER BY score_dec DESC, doc_id) AS BIGINT) AS rn
      |  FROM sc)
      |WHERE rn <= 10 ORDER BY q_doc, rn""".stripMargin

  // ---- text_classifier: hashing-trick linear scorer ---------------------
  // The inference shape of a fastText-style quality classifier (the
  // model-based filter FineWeb/DCLM pipelines run after the heuristic
  // ones): features = the hashed bag of words (the SAME 48-bit term
  // hashes the rest of the text family shuffles), weights = a fixed
  // hash-bucket table looked up per term, score = the length-normalized
  // weighted sum. The weights here are a deterministic stand-in
  // (w(h) = (h mod 1009 − 504)/504 — the multimodal stub-codec rule:
  // REAL plumbing, fake parameters); a trained model ships its bucket
  // table and the pipeline is unchanged.
  //
  // Scale shape: one narrow map over the postings rows + one per-doc
  // hash aggregation — embarrassingly parallel, no join (the weight
  // "lookup" is arithmetic; a shipped table would be a broadcast join).
  // Parity: Σ c·(h mod 1009 − 504) is an exact BIGINT, so the logit is
  // ONE pinned IEEE division of exact integers; the keep flag compares
  // the logit to 0 — no libm anywhere. Empty/whitespace-only docs have
  // no terms and are absent (unscorable), same as the tfidf family.
  private def classifier(s: SparkSession, d: String): DataFrame =
    corpusTermFreqs(s, d)
      .withColumn("w", pmod(col("wh"), lit(1009L)) - lit(504L))
      .groupBy(col("doc_id"))
      .agg(sum(col("c") * col("w")).as("wsum"),
        sum(col("c")).cast(LongType).as("n_tokens"))
      .withColumn("logit", col("wsum").cast(DoubleType) /
        (lit(504.0) * col("n_tokens").cast(DoubleType)))
      .withColumn("keep", col("logit") > lit(0.0))
      .select(col("doc_id"), col("n_tokens"), col("wsum"), col("logit"),
        col("keep"))
      .orderBy(col("doc_id"))

  private val classifierSql =
    """WITH occ AS (
      |  SELECT doc_id, CAST('0x'||substring(md5(word),1,12) AS BIGINT) AS wh
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |        FROM documents) WHERE word <> ''),
      |tf AS (SELECT doc_id, wh, COUNT(*) AS c FROM occ GROUP BY doc_id, wh)
      |SELECT doc_id, n_tokens, wsum,
      |  CAST(wsum AS DOUBLE) / (504.0 * CAST(n_tokens AS DOUBLE)) AS logit,
      |  CAST(wsum AS DOUBLE) / (504.0 * CAST(n_tokens AS DOUBLE)) > 0.0 AS keep
      |FROM (
      |  SELECT doc_id, CAST(SUM(c * (wh % 1009 - 504)) AS BIGINT) AS wsum,
      |    CAST(SUM(c) AS BIGINT) AS n_tokens
      |  FROM tf GROUP BY doc_id)
      |ORDER BY doc_id""".stripMargin

  // ---- retrieval_prf: Rocchio pseudo-relevance feedback ------------------
  // The classic recall lever when queries are short: run BM25 once, treat
  // each probe's top-3 results as pseudo-relevant, mine their term
  // distributions for the 2 strongest NEW terms (idf-weighted feedback
  // counts — the Rocchio centroid restricted to its top components), and
  // re-rank with the expanded 5-term query.
  //
  // Scale shape: every stage after the corpus aggregates is
  // PROBE-bounded. The feedback set is 3·|probes| rows; mining joins it
  // into the postings on doc_id (three posting rows per feedback doc's
  // term — doc-length-bounded, never a corpus scan); both scoring passes
  // are the same broadcast-into-postings join as `text_bm25`. Two passes
  // over the queried posting lists is the textbook PRF cost, and the
  // persisted `PostingsIndex` serves both.
  //
  // Parity: expansion ranking uses escore = idf · Σc — DECIMAL(18,6) ×
  // exact BIGINT feedback counts, exact in both engines — with (escore
  // DESC, wh) total order; everything else inherits text_bm25's pinned
  // rounding points.
  private def prf(s: SparkSession, d: String): DataFrame = {
    // Everything derives inline here, within this one timed query: tf
    // is CACHED (in-plan, released by the harness after the query)
    // because seven subtrees read it (three model aggs, the first-pass
    // scoring, feedback mining, and the expanded second pass); the tiny
    // model tables (dl, df, qidf — doc/vocab-bounded) are cached too so
    // the two scoring passes share one derivation instead of cloning
    // the window/agg trees.
    val tf = termFreqs(T.documents(s, d)).cache()
    val dl = tf.groupBy(col("doc_id"))
      .agg(sum(col("c")).cast(LongType).as("dl")).cache()
    val st = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast(LongType).cast(DoubleType) /
        count(lit(1)).cast(DoubleType)).as("avgdl"))
    val df_ = tf.groupBy(col("wh")).agg(count(lit(1)).as("df")).cache()
    val qidf = topIdfTerms(tf.filter(isProbe(col("doc_id"))), df_,
      st.select(col("n_docs"))).cache()
    // FIRST-PASS scores, cached: the feedback slice AND the final
    // ranking both read them (r16 — the former shape re-scored the
    // original query terms from the postings a second time inside the
    // expanded pass; per-(probe, doc) BM25 is a sum over terms, so
    // score2 = score1 ⊕ expansion-only contributions, exact decimal
    // adds — identical totals, one full scoring pass saved)
    val s1 = bm25Score(tf, qidf, dl, st.select(col("avgdl"))).cache()
    // feedback = top-3 of the first pass under the family's total order
    val fw = Window.partitionBy(col("q_doc"))
      .orderBy(col("score_dec").desc, col("doc_id"))
    val fb = s1
      .withColumn("rn", row_number().over(fw).cast(LongType))
      .filter(col("rn") <= 3)
      .select(col("q_doc"), col("doc_id"))
    // feedback-term mining: the 3·|probes|-row fb set broadcasts into the
    // postings; candidates are the feedback docs' own term lists only
    val ew = Window.partitionBy(col("q_doc"))
      .orderBy(col("escore").desc, col("wh"))
    val expTerms = tf.join(broadcast(fb), Seq("doc_id"))
      .groupBy(col("q_doc"), col("wh")).agg(sum(col("c")).as("fc"))
      .join(df_, Seq("wh")).crossJoin(broadcast(st.select(col("n_docs"))))
      .withColumn("idf",
        log((((col("n_docs") - col("df")).cast(DoubleType) + 0.5) /
          (col("df").cast(DoubleType) + 0.5)) + 1.0)
          .cast(DecimalType(18, 6)))
      .withColumn("escore", col("idf") * col("fc").cast(DecimalType(18, 0)))
      // NEW terms only: the original query terms are already in play
      .join(qidf.select(col("q_doc"), col("wh")), Seq("q_doc", "wh"),
        "left_anti")
      .withColumn("ern", row_number().over(ew))
      .filter(col("ern") <= 2)
      .select(col("q_doc"), col("wh"), col("idf"))
    // Max-score pruning was TRIED here (r15, PostingsIndex.topKPruned
    // over the inline tf) and measured 2.5× SLOWER at sf1: this
    // fixture's probe terms have near-uniform idf, so candidate upper
    // bounds cluster, the essential-list threshold prunes almost
    // nothing, and the phases' extra tf passes are pure overhead. WAND
    // pays off on skewed real vocabularies (the PostingsIndex spec
    // proves strict pruning on a crafted skew corpus) — not here.
    // expansion-only contributions (2 terms per probe — a small slice
    // of the posting lists), merged with the cached first pass: BM25's
    // per-(probe, doc) score is Σ per-term contribs, each contrib is
    // rounded BEFORE the sum, and decimal addition is exact and
    // associative, so s1 ⊕ se is bit-identical to re-scoring the
    // 5-term union; candidates (docs matching ANY term) are exactly
    // the full-outer domain
    val se = bm25Score(tf, expTerms, dl, st.select(col("avgdl")))
    val zeroDec = lit(0).cast(DecimalType(30, 10))
    val merged = s1
      .select(col("q_doc"), col("doc_id"),
        col("score_dec").as("s1d"), col("n_terms").as("n1"))
      .join(se.select(col("q_doc"), col("doc_id"),
        col("score_dec").as("s2d"), col("n_terms").as("n2")),
        Seq("q_doc", "doc_id"), "full_outer")
      .select(col("q_doc"), col("doc_id"),
        (coalesce(col("s1d"), zeroDec) + coalesce(col("s2d"), zeroDec))
          .as("score_dec"),
        (coalesce(col("n1"), lit(0L)) + coalesce(col("n2"), lit(0L)))
          .as("n_terms"))
    val rw = Window.partitionBy(col("q_doc"))
      .orderBy(col("score_dec").desc, col("doc_id"))
    merged
      .withColumn("rn", row_number().over(rw).cast(LongType))
      .filter(col("rn") <= 10)
      .select(col("q_doc"), col("rn"), col("doc_id"), col("n_terms"),
        col("score_dec").cast(DoubleType).as("score"))
      .orderBy(col("q_doc"), col("rn"))
  }

  private val prfSql = bm25Cte +
    """,
      |fb AS (
      |  SELECT q_doc, doc_id FROM (
      |    SELECT q_doc, doc_id, ROW_NUMBER() OVER (PARTITION BY q_doc
      |      ORDER BY score_dec DESC, doc_id) AS rn
      |    FROM sc)
      |  WHERE rn <= 3),
      |ec AS (
      |  SELECT q_doc, tf.wh, CAST(SUM(c) AS BIGINT) AS fc
      |  FROM tf JOIN fb ON tf.doc_id = fb.doc_id
      |  GROUP BY q_doc, tf.wh),
      |ei AS (
      |  SELECT q_doc, ec.wh,
      |    CAST(ln(((CAST(n_docs - df AS DOUBLE) + 0.5) /
      |      (CAST(df AS DOUBLE) + 0.5)) + 1.0) AS DECIMAL(18,6)) AS idf,
      |    CAST(ln(((CAST(n_docs - df AS DOUBLE) + 0.5) /
      |      (CAST(df AS DOUBLE) + 0.5)) + 1.0) AS DECIMAL(18,6))
      |      * CAST(fc AS DECIMAL(18,0)) AS escore
      |  FROM ec JOIN dfq ON ec.wh = dfq.wh CROSS JOIN st
      |  WHERE NOT EXISTS (SELECT 1 FROM qt
      |                    WHERE qt.q_doc = ec.q_doc AND qt.wh = ec.wh)),
      |ex AS (
      |  SELECT q_doc, wh, idf FROM (
      |    SELECT q_doc, wh, idf, ROW_NUMBER() OVER (PARTITION BY q_doc
      |      ORDER BY escore DESC, wh) AS ern
      |    FROM ei)
      |  WHERE ern <= 2),
      |qt2 AS (SELECT * FROM qt UNION ALL SELECT * FROM ex),
      |cand2 AS (
      |  SELECT q_doc, tf.doc_id AS doc_id,
      |    CAST(CAST(idf AS DOUBLE) *
      |      ((CAST(c AS DOUBLE) * 2.2) /
      |        (CAST(c AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))))
      |      AS DECIMAL(20,10)) AS contrib
      |  FROM tf JOIN qt2 USING (wh) JOIN dl ON tf.doc_id = dl.doc_id
      |  CROSS JOIN st
      |  WHERE tf.doc_id <> q_doc),
      |sc2 AS (SELECT q_doc, doc_id, SUM(contrib) AS score_dec,
      |          CAST(COUNT(*) AS BIGINT) AS n_terms
      |        FROM cand2 GROUP BY q_doc, doc_id)
      |SELECT q_doc, rn, doc_id, n_terms, CAST(score_dec AS DOUBLE) AS score FROM (
      |  SELECT q_doc, doc_id, n_terms, score_dec,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY q_doc
      |      ORDER BY score_dec DESC, doc_id) AS BIGINT) AS rn
      |  FROM sc2)
      |WHERE rn <= 10 ORDER BY q_doc, rn""".stripMargin

  // ---- retrieval_rrf: hybrid lexical+semantic fusion --------------------
  // The standard hybrid-RAG retrieval shape: the SAME probe rule
  // (id % 100 = 7) asks both halves — BM25 over the inverted index
  // (lexical) and cosine over the embedding table (semantic) — and
  // reciprocal-rank fusion merges the two top-10 lists:
  // score = Σ 1/(60 + rank), the rank-only formula that needs no score
  // normalization across retrievers (Cormack et al., the k=60 standard).
  //
  // Shape: both inputs arrive top-k-BOUNDED (≤ 10·|probes| rows each), so
  // the full-outer fusion join and the final re-rank window cost
  // O(k·|probes|) regardless of corpus size. The semantic half here is
  // the brute-force ground-truth scorer (q31's shape — candidate
  // generation is the one corpus-sized scan); at 100 TB a deployment
  // swaps it for the bounded ann_lsh_topk / ann_ivf_topk paths, which
  // produce the same (q_id, neighbor, rank) contract. Fusion arithmetic
  // is two IEEE divisions of exact integers and one addition —
  // bit-identical across engines; rank ties break on doc_id.
  private def rrf(s: SparkSession, d: String): DataFrame = {
    // lexical arm = top-10 of the first BM25 pass under the family's
    // total order
    val lw = Window.partitionBy(col("q_doc"))
      .orderBy(col("score_dec").desc, col("doc_id"))
    val lex = bm25Scores(s, d)
      .withColumn("lex_rn", row_number().over(lw).cast(LongType))
      .filter(col("lex_rn") <= 10)
      .select(col("q_doc"), col("doc_id"), col("lex_rn"))
    val n = Ann.normed(s, d)
    val q = n.filter(isProbe(col("vec_id")))
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("nsq").as("q_nsq"))
    val sw = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    val sem = n.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cos", graft.functions.DotProduct.dot(col("q_emb"), col("emb")) /
        (sqrt(col("q_nsq")) * sqrt(col("nsq"))))
      .withColumn("sem_rn", row_number().over(sw).cast(LongType))
      .filter(col("sem_rn") <= 10)
      .select(col("q_id"), col("vec_id").as("n_id"), col("sem_rn"))
    def rrfTerm(rn: org.apache.spark.sql.Column) =
      coalesce(lit(1.0) / (lit(60L) + rn).cast(DoubleType), lit(0.0))
    val fw = Window.partitionBy(col("q_doc")).orderBy(col("rrf_score").desc, col("doc_id"))
    lex.join(sem, lex("q_doc") === sem("q_id") && lex("doc_id") === sem("n_id"),
        "full_outer")
      .select(coalesce(col("q_doc"), col("q_id")).as("q_doc"),
        coalesce(col("doc_id"), col("n_id")).as("doc_id"),
        col("lex_rn"), col("sem_rn"))
      .withColumn("rrf_score", rrfTerm(col("lex_rn")) + rrfTerm(col("sem_rn")))
      .withColumn("rn", row_number().over(fw).cast(LongType))
      .filter(col("rn") <= 10)
      .select(col("q_doc"), col("rn"), col("doc_id"), col("lex_rn"),
        col("sem_rn"), col("rrf_score"))
      .orderBy(col("q_doc"), col("rn"))
  }

  private val rrfSql = bm25Cte +
    s""",
      |lex AS (SELECT q_doc, doc_id, rn AS lex_rn FROM (
      |  SELECT q_doc, doc_id,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY q_doc
      |      ORDER BY score_dec DESC, doc_id) AS BIGINT) AS rn
      |  FROM sc) WHERE rn <= 10),
      |nv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
      |    ${Dedup.guardedNsq} AS nsq
      |  FROM embeddings WHERE ${Dedup.guardedNsq} > 0),
      |pr AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
      |    list_inner_product(q.emb, c.emb) / (sqrt(q.nsq) * sqrt(c.nsq)) AS cos
      |  FROM nv q JOIN nv c ON q.vec_id % 100 = 7 AND q.vec_id < 5000
      |    AND q.vec_id <> c.vec_id),
      |sem AS (SELECT q_id, n_id, rn AS sem_rn FROM (
      |  SELECT q_id, n_id, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
      |      ORDER BY cos DESC, n_id) AS BIGINT) AS rn
      |  FROM pr) WHERE rn <= 10),
      |fused AS (
      |  SELECT COALESCE(l.q_doc, s.q_id) AS q_doc,
      |    COALESCE(l.doc_id, s.n_id) AS doc_id, l.lex_rn, s.sem_rn,
      |    COALESCE(CAST(1.0 AS DOUBLE) / CAST(60 + l.lex_rn AS DOUBLE),
      |             CAST(0.0 AS DOUBLE)) +
      |    COALESCE(CAST(1.0 AS DOUBLE) / CAST(60 + s.sem_rn AS DOUBLE),
      |             CAST(0.0 AS DOUBLE)) AS rrf_score
      |  FROM lex l FULL OUTER JOIN sem s
      |    ON l.q_doc = s.q_id AND l.doc_id = s.n_id)
      |SELECT q_doc, rn, doc_id, lex_rn, sem_rn, rrf_score FROM (
      |  SELECT q_doc, doc_id, lex_rn, sem_rn, rrf_score,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY q_doc
      |      ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS rn
      |  FROM fused)
      |WHERE rn <= 10 ORDER BY q_doc, rn""".stripMargin

  // ---- Multimodal: opaque binary column plumbing ------------------------
  // Text bytes stand in for image/audio payloads (the real decode is
  // stubbed — see graft.llm.Multimodal): byte length, hex/base64 prefix
  // framing, and a deterministic fake "decode" of (width, height, frames)
  // from the byte length — exercising the binary schema end-to-end.
  private def multimodal(s: SparkSession, d: String): DataFrame =
    T.documents(s, d).select(
      col("doc_id"),
      length(col("text").cast(BinaryType)).cast(LongType).as("n_bytes"),
      upper(hex(substring(col("text"), 1, 8).cast(BinaryType))).as("prefix_hex"),
      base64(substring(col("text"), 1, 9).cast(BinaryType)).as("prefix_b64"),
      (length(col("text").cast(BinaryType)) % 640).cast(LongType).as("fake_width"),
      (length(col("text").cast(BinaryType)) % 480).cast(LongType).as("fake_height"),
      (length(col("text").cast(BinaryType)) % 24 + 1).cast(LongType).as("fake_frames"))
      .orderBy(col("doc_id"))

  private val multimodalSql =
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  upper(hex(encode(substring(text, 1, 8)))) AS prefix_hex,
      |  to_base64(encode(substring(text, 1, 9))) AS prefix_b64,
      |  CAST(octet_length(encode(text)) % 640 AS BIGINT) AS fake_width,
      |  CAST(octet_length(encode(text)) % 480 AS BIGINT) AS fake_height,
      |  CAST(octet_length(encode(text)) % 24 + 1 AS BIGINT) AS fake_frames
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- text_vocab_coverage: fixed-vocab build + OOV-rate report ----------
  // The tokenizer-sizing question: if the pipeline freezes a top-V word
  // vocabulary from this corpus, what out-of-vocabulary rate does each
  // language eat? Vocab = the 500 most frequent words corpus-wide (ties
  // break on the word itself, so the boundary is deterministic in both
  // engines); the report per language counts tokens, OOV tokens, the OOV
  // rate (one IEEE division of exact BIGINTs), and how many documents
  // contain at least one OOV token.
  //
  // Scale shape: word counting is the family's standard hash agg; the
  // top-500 plans as TakeOrderedAndProject (per-partition top-K partials,
  // only K rows cross to the final sort — never a global full sort); the
  // vocab then joins BACK as a broadcast (500 rows at any corpus size),
  // so the coverage pass is scan + broadcast-probe + per-lang agg: one
  // wide exchange total at 100 TB.
  private def vocabCoverage(s: SparkSession, d: String): DataFrame = {
    val w = words(T.documents(s, d))
    val vocab = w.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word")).limit(500)
      .select(col("word"), lit(1).as("in_vocab"))
    w.join(broadcast(vocab), Seq("word"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).cast(LongType)
          .as("n_oov"),
        countDistinct(when(col("in_vocab").isNull, col("doc_id")))
          .as("n_docs_oov"))
      .select(col("lang"), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast(DoubleType) / col("n_tokens").cast(DoubleType))
          .as("oov_rate"),
        col("n_docs_oov"))
      .orderBy(col("lang"))
  }

  private val vocabCoverageSql =
    """WITH wrd AS (
      |  SELECT doc_id, lang, word FROM (
      |    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
      |    FROM documents) WHERE word <> ''),
      |vocab AS (
      |  SELECT word FROM (
      |    SELECT word, COUNT(*) AS cnt FROM wrd GROUP BY word
      |    ORDER BY cnt DESC, word LIMIT 500))
      |SELECT lang, COUNT(*) AS n_tokens,
      |  CAST(SUM(CASE WHEN vocab.word IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_oov,
      |  CAST(SUM(CASE WHEN vocab.word IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS oov_rate,
      |  COUNT(DISTINCT CASE WHEN vocab.word IS NULL THEN doc_id END)
      |    AS n_docs_oov
      |FROM wrd LEFT JOIN vocab ON wrd.word = vocab.word
      |GROUP BY lang ORDER BY lang""".stripMargin

  // ---- text_bpe_tokens: subword token counts via pinned greedy BPE ------
  // The counter the whitespace family only approximates: greedy BPE over
  // graft.functions.BpeUtil.Merges (algorithm + parity argument there).
  // Plan: ONE narrow codegen'd projection over the documents scan — no
  // explode, no distinct-word shuffle, no join — then the output sort.
  // The oracle replays the identical algorithm in a DuckDB recursive CTE
  // over DISTINCT words (the relational form of the encoder's memo
  // cache), generated from the same merges table so the two sides cannot
  // drift. blowup = bpe_tokens / ws_tokens is one IEEE division of exact
  // longs. Zero-word docs (none in the corpus, present in the degenerate
  // fixture) are unscorable and absent on both sides.
  private def bpeTokens(s: SparkSession, d: String): DataFrame =
    T.documents(s, d).select(
      col("doc_id"),
      size(array_remove(split(col("text"), " "), "")).cast(LongType)
        .as("ws_tokens"),
      graft.functions.BpeTokenCount.bpeTokenCount(col("text"))
        .as("bpe_tokens"))
      .filter(col("ws_tokens") > 0L)
      .withColumn("blowup", col("bpe_tokens").cast(DoubleType) /
        col("ws_tokens").cast(DoubleType))
      .orderBy(col("doc_id"))

  private val bpeTokensSql =
    s"""WITH RECURSIVE
       |${graft.functions.BpeUtil.bpeCtes}
       |SELECT doc_id, ws_tokens, bpe_tokens,
       |  CAST(bpe_tokens AS DOUBLE) / CAST(ws_tokens AS DOUBLE) AS blowup
       |FROM bpedoc ORDER BY doc_id""".stripMargin

  // ---- text_bpe_vocab: the emitted-token vocabulary ---------------------
  // The tokenizer-audit artifact: which subword tokens the pinned merges
  // actually emit over this corpus, how often (occurrence-weighted,
  // including multiplicity within a word), and across how many distinct
  // words. Long tails of single-character tokens here mean the merges
  // don't fit the corpus — the signal that triggers retraining
  // (`bpe_train`). Spark side tokenizes the DISTINCT-word table by the
  // same chained-replace pass the trainer uses (32 narrow maps over a
  // vocab-sized relation — no corpus re-scan beyond the word count);
  // the oracle reuses the encoder CTE chain and explodes its final
  // state. All exact integers.
  private def bpeVocab(s: SparkSession, d: String): DataFrame = {
    val D = "\u0001"
    val B = D + D
    val wcnt = Dedup.words(T.documents(s, d))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    var st = wcnt.withColumn("s",
      concat(lit(B), array_join(split(col("word"), "(?<=.)(?=.)"), B), lit(B)))
    graft.functions.BpeUtil.Merges.foreach { case (x, y) =>
      st = st.withColumn("s",
        call_function("replace", col("s"), lit(s"$D$x$B$y$D"), lit(s"$D${x + y}$D")))
    }
    st.select(col("word"), col("cnt"), explode(split(col("s"), D)).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok"))
      .agg(sum(col("cnt")).cast(LongType).as("n_occ"),
        countDistinct(col("word")).as("n_words"))
      .orderBy(desc("n_occ"), col("tok"))
  }

  private val bpeVocabSql = {
    val n = graft.functions.BpeUtil.Merges.length
    s"""WITH RECURSIVE
       |${graft.functions.BpeUtil.bpeCtes},
       |wcnt AS (SELECT word, COUNT(*) AS cnt FROM wrd GROUP BY word),
       |tokx AS (
       |  SELECT b.word, w.cnt, unnest(string_split(b.s, chr(1))) AS tok
       |  FROM bpes b JOIN wcnt w USING (word) WHERE b.r = $n)
       |SELECT tok, CAST(SUM(cnt) AS BIGINT) AS n_occ,
       |  COUNT(DISTINCT word) AS n_words
       |FROM tokx WHERE tok <> '' GROUP BY tok
       |ORDER BY n_occ DESC, tok""".stripMargin
  }

  // ---- text_zipf_fit: per-source Zipf slope (corpus-health diagnostic) --
  // The rank-frequency regression curation pipelines run per source: a
  // healthy natural-language slice follows Zipf's law (log-log slope near
  // −1); boilerplate-heavy, templated, or synthetic slices flatten (or
  // steepen) the curve, so the slope is a one-number corpus-quality
  // signal per provenance bucket — the Gopher/CCNet-style report card at
  // the SOURCE level rather than the document level.
  //
  // Shape: one corpus pass to the (source, word) count table (hash agg,
  // map-side combined), a rank window per source over the
  // VOCABULARY-bounded count table (never the corpus), then five exact
  // power sums per source. Parity: ln() is rounded once through
  // DECIMAL(18,6) ×10⁶ to an exact BIGINT (the tfidf libm rule meets the
  // profile_correlations fixed-point trick), per-term products stay
  // < 2⁶³ and are widened to DECIMAL(38,0) before summing, sums cross to
  // DOUBLE through a decimal STRING (strtod is correctly rounded in both
  // engines — the profile_correlations conversion rule), and the slope
  // is the one pinned IEEE chain in Stats.olsSlope, mirrored verbatim in
  // the SQL. Sources with a single rank (zero x-variance) yield a
  // defined null.
  private def zipfFit(s: SparkSession, d: String): DataFrame = {
    val wc = T.documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("cnt"))
    val rw = Window.partitionBy(col("source"))
      .orderBy(col("cnt").desc, col("word"))
    def q6(e: org.apache.spark.sql.Column) =
      (e.cast(DecimalType(18, 6)) * lit(1000000)).cast(LongType)
    val ranked = wc
      .withColumn("xq", q6(log(row_number().over(rw).cast(DoubleType))))
      .withColumn("yq", q6(log(col("cnt").cast(DoubleType))))
    def wide(e: org.apache.spark.sql.Column) = e.cast(DecimalType(38, 0))
    def viaString(e: org.apache.spark.sql.Column) =
      e.cast("string").cast("double")
    val sums = ranked.groupBy(col("source")).agg(
      count(lit(1)).as("n"),
      viaString(sum(wide(col("xq")))).as("sx"),
      viaString(sum(wide(col("yq")))).as("sy"),
      viaString(sum(wide(col("xq") * col("xq")))).as("sxx"),
      viaString(sum(wide(col("xq") * col("yq")))).as("sxy"))
    sums.select(col("source"), col("n").cast(LongType).as("n_types"),
        graft.operators.Stats.olsSlope(col("n").cast(DoubleType),
          col("sx"), col("sxx"), col("sy"), col("sxy")).as("zipf_slope"))
      .orderBy(col("source"))
  }

  private val zipfFitSql =
    """WITH wc AS (
      |  SELECT source, word, COUNT(*) AS cnt FROM (
      |    SELECT source, unnest(string_split(text, ' ')) AS word
      |    FROM documents)
      |  WHERE word <> '' GROUP BY source, word),
      |r AS (
      |  SELECT source,
      |    CAST(CAST(ln(CAST(ROW_NUMBER() OVER (PARTITION BY source
      |        ORDER BY cnt DESC, word) AS DOUBLE)) AS DECIMAL(18,6))
      |      * 1000000 AS BIGINT) AS xq,
      |    CAST(CAST(ln(CAST(cnt AS DOUBLE)) AS DECIMAL(18,6))
      |      * 1000000 AS BIGINT) AS yq
      |  FROM wc),
      |s AS (
      |  SELECT source, COUNT(*) AS n,
      |    CAST(CAST(SUM(CAST(xq AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS sx,
      |    CAST(CAST(SUM(CAST(yq AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS sy,
      |    CAST(CAST(SUM(CAST(xq AS HUGEINT) * xq) AS VARCHAR) AS DOUBLE) AS sxx,
      |    CAST(CAST(SUM(CAST(xq AS HUGEINT) * yq) AS VARCHAR) AS DOUBLE) AS sxy
      |  FROM r GROUP BY source)
      |SELECT source, CAST(n AS BIGINT) AS n_types,
      |  CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0
      |    THEN (CAST(n AS DOUBLE) * sxy - sx * sy)
      |      / (CAST(n AS DOUBLE) * sxx - sx * sx)
      |  END AS zipf_slope
      |FROM s ORDER BY source""".stripMargin

  override val defs: Seq[(String, QueryDef)] = Seq(
    "text_zipf_fit"      -> QueryDef(zipfFit, Some(zipfFitSql)),
    "q32_text_stats"     -> QueryDef(q32, Some(q32Sql)),
    "text_vocab_coverage" -> QueryDef(vocabCoverage, Some(vocabCoverageSql)),
    "text_langid"        -> QueryDef(langId, Some(langIdSql)),
    "text_quality"       -> QueryDef(quality, Some(qualitySql)),
    "text_tokens"        -> QueryDef(tokens, Some(tokensSql)),
    "text_bpe_tokens"    -> QueryDef(bpeTokens, Some(bpeTokensSql)),
    "text_bpe_vocab"     -> QueryDef(bpeVocab, Some(bpeVocabSql)),
    "text_winnow_fp"     -> QueryDef(winnow, Some(winnowSql)),
    "text_rare_words"    -> QueryDef(rareWords, Some(rareWordsSql)),
    "text_edit_distance" -> QueryDef(editDistance, Some(editDistanceSql)),
    "text_tfidf"         -> QueryDef(tfidf, Some(tfidfSql)),
    "text_collocations"  -> QueryDef(collocations, Some(collocationsSql)),
    "text_perplexity"    -> QueryDef(perplexity, Some(perplexitySql)),
    "text_bigram_lm"     -> QueryDef(bigramLm, Some(bigramLmSql)),
    "text_kneser_ney"    -> QueryDef(kneserNey, Some(kneserNeySql)),
    "text_entropy"       -> QueryDef(entropy, Some(entropySql)),
    "text_bm25"          -> QueryDef(bm25, Some(bm25Sql)),
    "retrieval_rrf"      -> QueryDef(rrf, Some(rrfSql)),
    "retrieval_prf"      -> QueryDef(prf, Some(prfSql)),
    "text_classifier"    -> QueryDef(classifier, Some(classifierSql)),
    "multimodal_bytes"   -> QueryDef(multimodal, Some(multimodalSql)),
  )
}
