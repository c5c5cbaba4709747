package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{QueryDef, QueryGroup, Tables => T}

/** Optimal subword segmentation by exact-integer Viterbi DP — the
  * unigram-LM-style tokenization step (Kudo 2018's inference shape) with
  * a determinism discipline strong enough for the bit-for-bit oracle:
  * piece scores are INTEGERS (floor-log2 of the corpus count via binary
  * string length — no transcendental log whose last bit could differ
  * between libms), and the DP state packs (score, pieces) into one
  * BIGINT key so the argmax is a plain integer MAX in both engines.
  *
  * Model (fully corpus-derived, no trained parameters): the piece
  * vocabulary is EVERY substring of length 1..[[MaxPieceLen]] of every
  * distinct word, scored
  * `iscore(p) = floor(log2(cnt(p))) * 1000 + len(p)` where cnt counts
  * corpus occurrences (word frequency × in-word occurrences). Viterbi
  * picks the segmentation maximizing Σ iscore, preferring fewer pieces
  * on exact score ties — packed key `score·64 + (63 − n_pieces)` makes
  * that lexicographic preference one integer comparison, and adding a
  * piece is the linear update `key += iscore·64 − 1`. Single-character
  * pieces always exist, so every word is segmentable.
  *
  * Scale shape: word frequencies are ONE corpus pass (map-side
  * combine); the piece table and the DP both live on the DISTINCT-word
  * table (vocabulary-bounded, Zipf — never the corpus); the piece→score
  * map broadcasts (loud [[MaxPieces]] cap — past it a real deployment
  * shards the DP as unrolled joins, not claimed here); the final per-doc
  * stats join the corpus word stream against the vocabulary-bounded
  * segmentation table (broadcast-sized). The DuckDB oracle unrolls the
  * identical DP as [[MaxWordLen]] staged CTEs (the power-iteration
  * recipe), so words are require-guarded to [[MaxWordLen]] chars —
  * loudly, the sketch_topk contract.
  */
object Subword extends QueryGroup {

  private[llm] val MaxPieceLen = 6
  private[llm] val MaxWordLen = 16

  /** Broadcast-map ceiling: pieces are vocabulary-bounded, but the
    * collect must still fail loudly rather than OOM the driver. */
  private[llm] val MaxPieces = 2000000L

  /** (word, freq) over the corpus word stream. */
  private def wordFreq(s: SparkSession, d: String): DataFrame =
    Dedup.words(T.documents(s, d))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** The round-0 Viterbi segmentation per distinct word — (word, freq,
    * score0, np0, pieces): one cut word-frequency pass feeds both the
    * piece table and the DP word list. */
  private[llm] def seg0(s: SparkSession, d: String): DataFrame = {
    val wf = graft.core.Materialize.cut(wordFreq(s, d))
    seg0From(s, wf, pieceScores(wf))
  }

  /** The round-0 DP over a prebuilt (cut) word-frequency table and piece
    * table — shared by [[seg0]] and the query paths that also need
    * `ps0` as a DataFrame (so one derivation serves both uses). */
  private[llm] def seg0From(s: SparkSession, wf: DataFrame,
      ps0: DataFrame): DataFrame = {
    import s.implicits._
    val tooLong = wf.filter(length(col("word")) > MaxWordLen).count()
    require(tooLong == 0,
      s"$tooLong words exceed the $MaxWordLen-char DP unroll — " +
        "raise MaxWordLen (and the oracle's staged CTEs) for this corpus")
    require(ps0.count() <= MaxPieces, s"piece vocabulary exceeds $MaxPieces")
    val m0 = s.sparkContext.broadcast(
      ps0.select(col("piece"), col("iscore")).as[(String, Long)].collect().toMap)
    wf.as[(String, Long)].map { case (w, f) =>
      val key = segmentKey(w, m0.value(_))
      (w, f, key / 64L, 63L - key % 64L, segmentPieces(w, m0.value(_)))
    }.toDF("word", "freq", "score0", "np0", "pieces")
  }

  /** (piece, cnt, iscore): every 1..MaxPieceLen substring of every
    * distinct word, counted with word multiplicity; iscore via the
    * binary-string-length integer log2. */
  private[llm] def pieceScores(wf: DataFrame): DataFrame =
    wf.select(col("freq"), explode(expr(
        s"""flatten(transform(sequence(0, length(word) - 1), j ->
           |  transform(sequence(1, least($MaxPieceLen, length(word) - j)), l ->
           |    substring(word, j + 1, l))))""".stripMargin)).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
      .select(col("piece"), col("cnt"),
        ((length(expr("bin(cnt)")) - 1) * 1000 + length(col("piece")))
          .cast(LongType).as("iscore"))

  /** The per-word DP, identical arithmetic to the unrolled SQL stages:
    * dp(0) = 63; dp(i) = max over j of dp(j) + iscore(word[j..i))·64 − 1. */
  private[llm] def segmentKey(word: String, score: String => Long): Long = {
    val n = word.length
    val dp = new Array[Long](n + 1)
    dp(0) = 63L
    var i = 1
    while (i <= n) {
      var best = Long.MinValue
      var j = math.max(0, i - MaxPieceLen)
      while (j < i) {
        val cand = dp(j) + score(word.substring(j, i)) * 64L - 1L
        if (cand > best) best = cand
        j += 1
      }
      dp(i) = best
      i += 1
    }
    dp(n)
  }

  /** The DP's argmax path, backtracked with the SMALLEST-predecessor tie
    * rule (≡ the oracle's MIN(j) — both engines walk the identical
    * segmentation, which the E-step's piece counts depend on). */
  private[llm] def segmentPieces(word: String, score: String => Long): Seq[String] = {
    val n = word.length
    val dp = new Array[Long](n + 1)
    dp(0) = 63L
    var i = 1
    while (i <= n) {
      var best = Long.MinValue
      var j = math.max(0, i - MaxPieceLen)
      while (j < i) {
        val cand = dp(j) + score(word.substring(j, i)) * 64L - 1L
        if (cand > best) best = cand
        j += 1
      }
      dp(i) = best
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    i = n
    while (i > 0) {
      var j = math.max(0, i - MaxPieceLen)
      var chosen = -1
      while (chosen < 0 && j < i) {
        if (dp(j) + score(word.substring(j, i)) * 64L - 1L == dp(i)) chosen = j
        else j += 1
      }
      out += word.substring(chosen, i)
      i = chosen
    }
    out.reverse.toSeq
  }

  /** Registry query: per-doc segmentation stats — word count, optimal
    * piece count, total segmentation score, pieces-per-word (one IEEE
    * division). Wordless docs surface with zero counts and a NULL
    * ratio. */
  private def unigramSegment(s: SparkSession, d: String): DataFrame = {
    val seg = seg0(s, d)
      .select(col("word"), col("score0").as("seg_score"), col("np0").as("np"))
    val perDoc = Dedup.words(T.documents(s, d))
      .join(broadcast(seg), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("np")).as("n_pieces"),
        sum(col("seg_score")).as("seg_score"))
    T.documents(s, d).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"),
        coalesce(col("seg_score"), lit(0L)).as("seg_score"),
        when(col("n_words") > 0,
          col("n_pieces").cast(DoubleType) / col("n_words").cast(DoubleType))
          .as("pieces_per_word"))
      .orderBy(col("doc_id"))
  }

  // ---- DuckDB oracle ----------------------------------------------------
  // The DP unrolls as MaxWordLen staged CTEs over the distinct-word table
  // (the power-iteration recipe): stage i maxes over the ≤ MaxPieceLen
  // predecessor stages, each arm one join against the piece table on the
  // exact substring. Generators are parameterized so the EM round's
  // second chain (re-scored pieces) is the same code.

  /** Shared prologue: corpus words, frequencies, piece table `ps`. */
  private val prologueSql: String =
    s"""wrd AS MATERIALIZED (
       |  SELECT doc_id, word FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |    FROM documents) WHERE word <> ''),
       |wfreq AS MATERIALIZED (
       |  SELECT word, COUNT(*) AS freq FROM wrd GROUP BY word),
       |pi AS (
       |  SELECT substr(word, CAST(j + 1 AS INT), CAST(l AS INT)) AS piece, freq
       |  FROM wfreq, range(0, $MaxWordLen) r(j), range(1, ${MaxPieceLen + 1}) q(l)
       |  WHERE j + l <= length(word)),
       |ps AS MATERIALIZED (
       |  SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt,
       |    CAST((length(bin(CAST(SUM(freq) AS BIGINT))) - 1) * 1000
       |      + length(piece) AS BIGINT) AS iscore
       |  FROM pi GROUP BY piece)""".stripMargin

  /** dp0..dpN chain named `$p0`..`$p$N`, scored by piece table `psName`. */
  private def dpChainSql(p: String, psName: String): String = {
    val stages = (1 to MaxWordLen).map { i =>
      val arms = (math.max(0, i - MaxPieceLen) until i).map { j =>
        s"""    SELECT d.word, d.wl, d.key + $psName.iscore * 64 - 1 AS key
           |    FROM $p$j d JOIN $psName ON $psName.piece = substr(d.word, ${j + 1}, ${i - j})
           |    WHERE d.wl >= $i""".stripMargin
      }.mkString("\n    UNION ALL\n")
      s"""$p$i AS MATERIALIZED (
         |  SELECT word, wl, MAX(key) AS key FROM (
         |$arms
         |  ) GROUP BY word, wl)""".stripMargin
    }.mkString(",\n")
    s"""${p}0 AS (SELECT word, length(word) AS wl, CAST(63 AS BIGINT) AS key
       |        FROM wfreq),
       |$stages""".stripMargin
  }

  /** Per-word (word, seg_score, np) read from each word's own stage. */
  private def segSql(name: String, p: String): String = {
    val finals = (1 to MaxWordLen)
      .map(i => s"  SELECT word, key FROM $p$i WHERE wl = $i")
      .mkString("\n  UNION ALL\n")
    s"""$name AS MATERIALIZED (
       |  SELECT word, key // 64 AS seg_score, 63 - key % 64 AS np FROM (
       |$finals
       |  ))""".stripMargin
  }

  private val unigramSegmentSql: String =
    s"""WITH $prologueSql,
       |${dpChainSql("dp", "ps")},
       |${segSql("seg", "dp")},
       |dstats AS (
       |  SELECT w.doc_id, COUNT(*) AS n_words,
       |    CAST(SUM(sg.np) AS BIGINT) AS n_pieces,
       |    CAST(SUM(sg.seg_score) AS BIGINT) AS seg_score
       |  FROM wrd w JOIN seg sg ON sg.word = w.word
       |  GROUP BY w.doc_id)
       |SELECT d.doc_id, COALESCE(n_words, 0) AS n_words,
       |  COALESCE(n_pieces, 0) AS n_pieces,
       |  COALESCE(st.seg_score, 0) AS seg_score,
       |  CASE WHEN n_words > 0 THEN
       |    CAST(n_pieces AS DOUBLE) / CAST(n_words AS DOUBLE)
       |  END AS pieces_per_word
       |FROM documents d LEFT JOIN dstats st ON st.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Backward path reconstruction, unrolled: step t selects the SMALLEST
    * predecessor achieving the stage's max (≡ [[segmentPieces]]' first-j
    * backtrack), emitting one piece per step until position 0. */
  private val emPathSql: String = {
    val dpall = (1 to MaxWordLen)
      .map(i => s"  SELECT word, CAST($i AS BIGINT) AS i, key FROM dp$i WHERE wl >= $i")
      .mkString("\n  UNION ALL\n")
    val steps = (1 to MaxWordLen).map { t =>
      s"""st$t AS MATERIALIZED (
         |  SELECT s.word, s.nj AS i, MIN(da.i) AS nj
         |  FROM st${t - 1} s
         |  JOIN dpall di ON di.word = s.word AND di.i = s.nj
         |  JOIN dpall da ON da.word = s.word
         |    AND da.i >= s.nj - $MaxPieceLen AND da.i < s.nj
         |  JOIN ps ON ps.piece =
         |    substr(s.word, CAST(da.i + 1 AS INT), CAST(s.nj - da.i AS INT))
         |  WHERE s.nj > 0 AND da.key + ps.iscore * 64 - 1 = di.key
         |  GROUP BY s.word, s.nj)""".stripMargin
    }.mkString(",\n")
    val emits = (1 to MaxWordLen)
      .map(t => s"""  SELECT word,
                   |    substr(word, CAST(nj + 1 AS INT), CAST(i - nj AS INT)) AS piece
                   |  FROM st$t""".stripMargin)
      .mkString("\n  UNION ALL\n")
    s"""dpall AS MATERIALIZED (
       |  SELECT word, CAST(0 AS BIGINT) AS i, CAST(63 AS BIGINT) AS key FROM wfreq
       |  UNION ALL
       |$dpall),
       |st0 AS (SELECT word, CAST(NULL AS BIGINT) AS i, length(word) AS nj
       |        FROM wfreq),
       |$steps,
       |emits AS (
       |$emits)""".stripMargin
  }

  private val unigramEmRoundSql: String =
    s"""WITH $prologueSql,
       |${dpChainSql("dp", "ps")},
       |$emPathSql,
       |use1 AS (
       |  SELECT e.piece, CAST(SUM(f.freq) AS BIGINT) AS used
       |  FROM emits e JOIN wfreq f ON f.word = e.word GROUP BY e.piece),
       |psb AS MATERIALIZED (
       |  SELECT ps.piece,
       |    CAST((length(bin(COALESCE(u.used, 0) + 1)) - 1) * 1000
       |      + length(ps.piece) AS BIGINT) AS iscore
       |  FROM ps LEFT JOIN use1 u ON u.piece = ps.piece),
       |${dpChainSql("dpb", "psb")},
       |${segSql("sega", "dp")},
       |${segSql("segb", "dpb")},
       |dstats AS (
       |  SELECT w.doc_id, COUNT(*) AS n_words,
       |    CAST(SUM(a.np) AS BIGINT) AS n_pieces_r0,
       |    CAST(SUM(b.np) AS BIGINT) AS n_pieces_r1,
       |    CAST(SUM(a.seg_score) AS BIGINT) AS score_r0,
       |    CAST(SUM(b.seg_score) AS BIGINT) AS score_r1
       |  FROM wrd w
       |  JOIN sega a ON a.word = w.word
       |  JOIN segb b ON b.word = w.word
       |  GROUP BY w.doc_id)
       |SELECT d.doc_id, COALESCE(n_words, 0) AS n_words,
       |  COALESCE(n_pieces_r0, 0) AS n_pieces_r0,
       |  COALESCE(n_pieces_r1, 0) AS n_pieces_r1,
       |  COALESCE(score_r0, 0) AS score_r0,
       |  COALESCE(score_r1, 0) AS score_r1
       |FROM documents d LEFT JOIN dstats st ON st.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Registry query: ONE hard-EM training round (Kudo 2018's EM with the
    * Viterbi E-step) — segment with the corpus-count scores, count which
    * pieces the optimal paths actually USE (frequency-weighted), re-score
    * `floor(log2(used+1))·1000+len`, re-segment. Concentrates mass on
    * pieces that win segmentations, the unigram-trainer dynamic; both the
    * E-step path (smallest-predecessor tie rule) and the M-step counts
    * are exact integers, so the oracle replays the round bit-for-bit.
    * Scale shape as [[unigramSegment]] ×2 plus one vocabulary-bounded
    * usage aggregation. */
  private def unigramEmRound(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // round-0 DP + piece table derive from ONE cut word-frequency pass;
    // ps0 is cached (the M-step join reads it as a DataFrame and the DP
    // collects it) and seg0 is cached (the usage counts, the r0 stats
    // and the second segmentation's word list all read it) — in-plan
    // caches, released per query
    val wfc = graft.core.Materialize.cut(wordFreq(s, d))
    val ps0 = pieceScores(wfc).cache()
    val seg0 = seg0From(s, wfc, ps0).cache()
    val wf = seg0.select(col("word"), col("freq"))
    val used = seg0.select(col("freq"), explode(col("pieces")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("used"))
    val ps1 = ps0.join(used, Seq("piece"), "left")
      .select(col("piece"),
        ((length(expr("bin(coalesce(used, 0) + 1)")) - 1) * 1000 +
          length(col("piece"))).cast(LongType).as("iscore"))
    val m1 = s.sparkContext.broadcast(
      ps1.as[(String, Long)].collect().toMap)
    val seg1 = wf.as[(String, Long)].map { case (w, _) =>
      val key = segmentKey(w, m1.value(_))
      (w, key / 64L, 63L - key % 64L)
    }.toDF("word", "score1", "np1")
    val ws = seg0.select(col("word"), col("score0"), col("np0"))
      .join(seg1, Seq("word"))
    val perDoc = Dedup.words(T.documents(s, d))
      .join(broadcast(ws), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("np0")).as("n_pieces_r0"), sum(col("np1")).as("n_pieces_r1"),
        sum(col("score0")).as("score_r0"), sum(col("score1")).as("score_r1"))
    T.documents(s, d).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_pieces_r0"), lit(0L)).as("n_pieces_r0"),
        coalesce(col("n_pieces_r1"), lit(0L)).as("n_pieces_r1"),
        coalesce(col("score_r0"), lit(0L)).as("score_r0"),
        coalesce(col("score_r1"), lit(0L)).as("score_r1"))
      .orderBy(col("doc_id"))
  }

  // ---- unigram_prune: the SentencePiece vocabulary-pruning step ----------
  // Kudo 2018's training loop alternates EM rounds with PRUNING: drop the
  // sub-vocabulary of least-useful pieces until the target size, keeping
  // every single character so segmentation stays total. This query runs
  // one Viterbi E-step (usage counts, the unigram_em_round machinery),
  // keeps all length-1 pieces plus the top-[[KeepMulti]] multi-char
  // pieces by (used DESC, piece ASC) — a deterministic TOTAL order, so
  // the distributed sort-limit and the oracle's ORDER BY ... LIMIT pick
  // the identical survivor set — re-scores survivors from their usage
  // counts, and re-segments the corpus against the pruned vocabulary.

  /** Pruned multi-char vocabulary size (singles always survive). */
  private[llm] val KeepMulti = 64

  /** Sentinel score for pieces pruned out of the vocabulary: negative
    * enough that a pruned arm can never win the DP max (real keys stay
    * in [63, ~6.5e7]), small enough that dp(j) + Missing·64 − 1 cannot
    * underflow a Long. Mirrors the oracle's INNER join, which simply
    * generates no arm for a pruned piece. */
  private[llm] val Missing = -(1L << 40)

  /** Registry query: per-doc segmentation stats under the PRUNED
    * vocabulary — same output shape as [[unigramSegment]], different
    * (coarser) segmentations wherever a pruned piece used to win.
    * Scale shape: E-step as [[unigramEmRound]]; the survivor pick is a
    * distributed TopK (TakeOrderedAndProject, KeepMulti-bounded), never
    * a global window; re-segmentation rides the same vocabulary-bounded
    * broadcast DP. */
  private def unigramPrune(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // round-0 paths + piece table derive from ONE cut word-frequency
    // pass (caches as in unigram_em_round)
    val wfc = graft.core.Materialize.cut(wordFreq(s, d))
    val ps0 = pieceScores(wfc).cache()
    val seg0 = seg0From(s, wfc, ps0).cache()
    val wf = seg0.select(col("word"), col("freq"))
    val used = seg0.select(col("freq"), explode(col("pieces")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("used"))
    val cand = ps0.join(used, Seq("piece"), "left")
      .select(col("piece"), coalesce(col("used"), lit(0L)).as("used"))
    val keep = cand.filter(length(col("piece")) === 1)
      .union(cand.filter(length(col("piece")) > 1)
        .orderBy(col("used").desc, col("piece").asc).limit(KeepMulti))
    val ps1 = keep.select(col("piece"),
      ((length(expr("bin(used + 1)")) - 1) * 1000 +
        length(col("piece"))).cast(LongType).as("iscore"))
    val m1 = s.sparkContext.broadcast(ps1.as[(String, Long)].collect().toMap)
    val seg = wf.select(col("word")).as[String]
      .map { w =>
        val key = segmentKey(w, m1.value.getOrElse(_, Missing))
        (w, key / 64L, 63L - key % 64L)
      }
      .toDF("word", "seg_score", "np")
    val perDoc = Dedup.words(T.documents(s, d))
      .join(broadcast(seg), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("np")).as("n_pieces"),
        sum(col("seg_score")).as("seg_score"))
    T.documents(s, d).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"),
        coalesce(col("seg_score"), lit(0L)).as("seg_score"),
        when(col("n_words") > 0,
          col("n_pieces").cast(DoubleType) / col("n_words").cast(DoubleType))
          .as("pieces_per_word"))
      .orderBy(col("doc_id"))
  }

  private val unigramPruneSql: String =
    s"""WITH $prologueSql,
       |${dpChainSql("dp", "ps")},
       |$emPathSql,
       |use1 AS (
       |  SELECT e.piece, CAST(SUM(f.freq) AS BIGINT) AS used
       |  FROM emits e JOIN wfreq f ON f.word = e.word GROUP BY e.piece),
       |cand AS (
       |  SELECT ps.piece, CAST(COALESCE(u.used, 0) AS BIGINT) AS used
       |  FROM ps LEFT JOIN use1 u ON u.piece = ps.piece),
       |keep AS MATERIALIZED (
       |  SELECT piece, used FROM cand WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece, used FROM (
       |    SELECT piece, used FROM cand WHERE length(piece) > 1
       |    ORDER BY used DESC, piece ASC LIMIT $KeepMulti)),
       |psp AS MATERIALIZED (
       |  SELECT piece, CAST((length(bin(used + 1)) - 1) * 1000
       |    + length(piece) AS BIGINT) AS iscore
       |  FROM keep),
       |${dpChainSql("dpp", "psp")},
       |${segSql("segp", "dpp")},
       |dstats AS (
       |  SELECT w.doc_id, COUNT(*) AS n_words,
       |    CAST(SUM(sg.np) AS BIGINT) AS n_pieces,
       |    CAST(SUM(sg.seg_score) AS BIGINT) AS seg_score
       |  FROM wrd w JOIN segp sg ON sg.word = w.word
       |  GROUP BY w.doc_id)
       |SELECT d.doc_id, COALESCE(n_words, 0) AS n_words,
       |  COALESCE(n_pieces, 0) AS n_pieces,
       |  COALESCE(st.seg_score, 0) AS seg_score,
       |  CASE WHEN n_words > 0 THEN
       |    CAST(n_pieces AS DOUBLE) / CAST(n_words AS DOUBLE)
       |  END AS pieces_per_word
       |FROM documents d LEFT JOIN dstats st ON st.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ---- unigram_segment_sharded: the DP without the broadcast map ---------
  // [[unigramSegment]] collects the piece→score map to the driver behind
  // the loud [[MaxPieces]] cap. This variant IS the documented past-the-
  // cap path, and it does NOT replay the 16 sequential stages (16
  // barrier jobs would be all scheduler overhead): the segmentation max
  // is an interval DP over the tropical (max, +) semiring, so it
  // parallelizes by SQUARING — seed best[j, i) for every piece-length
  // interval with ONE shuffle join of the exploded substring intervals
  // against the piece TABLE (no collect, no broadcast variable, no
  // driver ceiling; AQE still free to broadcast a small piece table),
  // then compose adjacent intervals `best[j, m) + best[m, i)` doubling
  // the covered PIECE COUNT each round: ⌈log₂ MaxWordLen⌉ = 4 rounds
  // for 16 instead of 16 stages. Each round is one word-keyed
  // self-join + max-agg (rows per word ≤ wl·(wl+1)/2 = 136, so the
  // intermediate is |vocab|·136 — vocabulary-bounded like everything
  // else). The packed key already encodes (score, −pieces), so the
  // interval max composes to exactly the staged DP's winner. Same
  // arithmetic, same oracle SQL as [[unigramSegment]].

  private def unigramSegmentSharded(s: SparkSession, d: String): DataFrame = {
    val wf = graft.core.Materialize.cut(wordFreq(s, d))
    val tooLong = wf.filter(length(col("word")) > MaxWordLen).count()
    require(tooLong == 0,
      s"$tooLong words exceed the $MaxWordLen-char DP unroll — " +
        "raise MaxWordLen (and the oracle's staged CTEs) for this corpus")
    // piece table derived from the already-cut word frequencies — still
    // no driver map: only the DRIVER-map
    // construction is what this variant documents living without
    val ps = pieceScores(wf).select(col("piece"), col("iscore"))
    // best[j, i) over single pieces: v = iscore·64 − 1 (the key delta)
    val base = wf
      .select(col("word"), expr(
        s"""explode(flatten(transform(sequence(0, length(word) - 1), j ->
           |  transform(sequence(1, least($MaxPieceLen, length(word) - j)), l ->
           |    named_struct('j', j, 'i', j + l,
           |      'piece', substring(word, j + 1, l))))))""".stripMargin).as("iv"))
      .select(col("word"), col("iv.j").as("j"), col("iv.i").as("i"),
        col("iv.piece").as("piece"))
      .join(ps, Seq("piece"))
      .select(col("word"), col("j"), col("i"),
        (col("iscore") * 64L - 1L).as("v"))
    var best = graft.core.Materialize.cut(base)
    // round r covers segmentations of ≤ 2^r pieces (a 16-char word can be
    // 16 single-char pieces), so ⌈log₂ MaxWordLen⌉ = 4 squaring rounds
    var covered = 1
    while (covered < MaxWordLen) {
      val composed = best.as("a")
        .join(best.as("b"),
          col("a.word") === col("b.word") && col("a.i") === col("b.j"))
        .select(col("a.word").as("word"), col("a.j").as("j"),
          col("b.i").as("i"), (col("a.v") + col("b.v")).as("v"))
      best = graft.core.Materialize.cut(
        best.union(composed)
          .groupBy(col("word"), col("j"), col("i"))
          .agg(max(col("v")).as("v")))
      covered *= 2
    }
    val seg = best.filter(col("j") === 0)
      .join(wf.select(col("word")), Seq("word"))
      .filter(col("i") === length(col("word")))
      .select(col("word"), (lit(63L) + col("v")).as("key"))
      .select(col("word"), expr("key div 64").as("seg_score"),
        (lit(63L) - col("key") % 64L).as("np"))
    // word-keyed shuffle join, deliberately NOT broadcast: the sharded
    // path's contract is that no stage depends on fitting in one JVM
    val perDoc = Dedup.words(T.documents(s, d))
      .join(seg, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("np")).as("n_pieces"),
        sum(col("seg_score")).as("seg_score"))
    T.documents(s, d).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"),
        coalesce(col("seg_score"), lit(0L)).as("seg_score"),
        when(col("n_words") > 0,
          col("n_pieces").cast(DoubleType) / col("n_words").cast(DoubleType))
          .as("pieces_per_word"))
      .orderBy(col("doc_id"))
  }

  override val defs: Seq[(String, QueryDef)] = Seq(
    "text_unigram_segment" -> QueryDef(unigramSegment, Some(unigramSegmentSql)),
    "unigram_em_round" -> QueryDef(unigramEmRound, Some(unigramEmRoundSql)),
    "unigram_prune" -> QueryDef(unigramPrune, Some(unigramPruneSql)),
    // identical semantics to text_unigram_segment — the oracle is shared;
    // what differs is the physical path (no broadcast map, no collect)
    "unigram_segment_sharded" ->
      QueryDef(unigramSegmentSharded, Some(unigramSegmentSql)),
  )
}
