package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Materialize, QueryDef, QueryGroup, Tables => T}

/** BPE tokenizer TRAINING as a distributed job — the learn side of the
  * `functions/Bpe.scala` encode side: learn the top-N merges from the
  * corpus by the classic Sennrich et al. 2016 loop (count adjacent token
  * pairs weighted by word frequency; merge the most frequent pair
  * everywhere; repeat).
  *
  * Scale shape — the shape every published BPE trainer uses: training
  * runs over the WORD-FREQUENCY table, not the corpus. The one
  * corpus-sized pass is the word count (a hash agg whose map-side
  * combine collapses each partition to its vocabulary); every round
  * after that is vocabulary-bounded — a narrow pair-explode over the
  * tokenized vocab, a pair-count hash agg (map-side combined), and a
  * 1-row argmax collect (the same bounded-collect contract as the
  * IvfIndex/PostingsIndex stats rows; a global argmax per round is
  * inherent to BPE). Per-round state is [[Materialize.cut]] so round N's
  * plan doesn't nest N-1 replace chains.
  *
  * Token state is the SAME double-U+0001-delimited string the encoder
  * uses, and the merge application is the same single literal replace —
  * one classic left-to-right non-overlapping pass (see Bpe.scala for
  * the equivalence argument). Pair counting counts every adjacent
  * POSITION (overlapping, like Sennrich's `get_stats`: "aaa" has two
  * (a,a) adjacencies); ties break deterministically by (count DESC, x
  * ASC, y ASC). All counts are exact BIGINTs, so the DuckDB oracle —
  * the identical loop unrolled into per-round CTE stages generated from
  * the same constants (the `ann_pq_adc` k-means precedent) — is graded
  * bit-for-bit. When pairs run out before N rounds, both sides emit the
  * same gap-free prefix of merges.
  */
object BpeTrain extends QueryGroup {

  /** Rounds to learn. Small and pinned so the unrolled oracle stays
    * readable; a production run raises it (the per-round cost is
    * vocabulary-bounded, so rounds scale linearly). */
  private[llm] val TrainRounds = 8

  private val D = "\u0001"
  private val B = D + D

  /** Distinct words with occurrence counts, char-tokenized into the
    * double-delimited state. The split regex matches only BETWEEN two
    * characters (lookbehind + lookahead), because Spark's split keeps
    * trailing empties (limit −1) and a plain `(?!^)` also matches at
    * end-of-string — which would seed every word with a phantom empty
    * token. */
  private def initState(docs: DataFrame): DataFrame =
    Dedup.words(docs)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .withColumn("s",
        concat(lit(B), array_join(split(col("word"), "(?<=.)(?=.)"), B), lit(B)))

  /** The learned merges table `bpe_train` and `bpe_train_tokens` both
    * start from: the TrainRounds-round Sennrich loop, one merge a round. */
  private[llm] def learn(s: SparkSession, d: String): Seq[(Long, String, String, Long)] =
    learnBatched(s, d, TrainRounds, batchK = 1)

  /** Greedy token-disjoint selection from candidates already in the
    * canonical (count DESC, x ASC, y ASC) order: keep up to `batchK`
    * pairs whose token alphabets — BOTH constituents AND the merged
    * output — are pairwise disjoint. Disjoint-including-outputs is what
    * makes the batch exactly commutative: a merge only rewrites runs of
    * its own two tokens and only mints its own output, so no selected
    * merge can create, destroy, or chain into an adjacency any other
    * selected merge counts — each recorded pair_count (measured before
    * the round) stays exact, and applying the batch in any order yields
    * the same state. (Checking outputs matters: selecting (a,b) and
    * (ab,c) together would let the first mint "ab" tokens the second
    * then merges — occurrences never counted at selection time.) */
  private[llm] def selectDisjoint(cands: Seq[(String, String, Long)],
      batchK: Int): Seq[(String, String, Long)] = {
    val used = scala.collection.mutable.Set.empty[String]
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    val it = cands.iterator
    while (out.size < batchK && it.hasNext) {
      val c @ (x, y, _) = it.next()
      if (!used(x) && !used(y) && !used(x + y)) {
        out += c
        used ++= Seq(x, y, x + y)
      }
    }
    out.toSeq
  }

  /** One round: count pairs over the current state, collect the bounded
    * top-(batchK·poolMult) candidates, keep the token-disjoint batch. */
  private def countAndPick(st: DataFrame, batchK: Int,
      poolMult: Int = 8): Seq[(String, String, Long)] = {
    val toks = st
      .withColumn("t", expr(s"slice(split(s, '$B'), 2, size(split(s, '$B')) - 2)"))
      .filter(size(col("t")) >= 2)
    val pairs = toks.select(col("cnt"), explode(expr(
      "transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS x, t[i] AS y))")).as("p"))
      .select(col("cnt"), col("p.x").as("x"), col("p.y").as("y"))
    // batchK*8 bounded rows per round (top-1 argmax when batchK = 1):
    // headroom for greedy conflicts without an unbounded collect
    val cands = pairs.groupBy(col("x"), col("y"))
      .agg(sum(col("cnt")).as("pc"))
      .orderBy(desc("pc"), col("x"), col("y"))
      .limit(batchK * poolMult).collect()
      .map(b => (b.getString(0), b.getString(1), b.getLong(2))).toSeq
    selectDisjoint(cands, batchK)
  }

  /** Replaces chained into ONE projection before a cut forces a barrier.
    * Bounded because expression-tree depth is a JVM-stack liability: the
    * Column→Expression conversion costs ~40 frames per nesting level,
    * and a full 512-wide adaptive round (the 32k demo) overflowed the
    * main thread's stack at plan-build time. 64 is comfortably inside
    * every stack while keeping the per-round cut count ≤ maxK/64. */
  private val MaxReplaceChain = 64

  /** Apply a disjoint batch: chunked projections chaining ≤
    * [[MaxReplaceChain]] replaces each, a [[Materialize.cut]] barrier
    * between chunks (disjointness makes any application order exact;
    * selection order is used for determinism). */
  private def applyPicked(st: DataFrame,
      picked: Seq[(String, String, Long)]): DataFrame =
    picked.grouped(MaxReplaceChain).foldLeft(st) { (df, chunk) =>
      val applied = chunk.foldLeft(col("s")) { case (c, (x, y, _)) =>
        call_function("replace", c, lit(s"$D$x$B$y$D"), lit(s"$D$x$y$D"))
      }
      Materialize.cut(df.withColumn("s", applied))
    }

  /** The Sennrich loop with a BATCHED merge schedule: per round, rank
    * pair counts once, collect the top `batchK`·8 candidates (a bounded
    * driver read replacing the top-1 argmax), greedily keep up to
    * `batchK` token-disjoint ones ([[selectDisjoint]] — commutative, so
    * one round of chained replaces equals applying them sequentially),
    * and apply them all before re-counting. Jobs-per-vocabulary drops
    * ~batchK-fold (the standard batched-BPE trade: the learned TABLE can
    * differ from the strict top-1 schedule, because lower-ranked pairs
    * are admitted before re-counting; every admitted count is still
    * exact). `batchK = 1` IS the classic schedule — `bpe_train`'s
    * oracle-graded shape. Ranks number merges in global application
    * order. For production vocabularies use [[learnAdaptive]]. */
  private[llm] def learnBatched(s: SparkSession, d: String, rounds: Int,
      batchK: Int): Seq[(Long, String, String, Long)] = {
    require(batchK >= 1, s"learnBatched: need batchK >= 1; got $batchK")
    var st = Materialize.cut(initState(T.documents(s, d)))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var r = 0
    var done = false
    while (r < rounds && !done) {
      val picked = countAndPick(st, batchK)
      if (picked.isEmpty) done = true
      else {
        picked.foreach { case (x, y, pc) =>
          merges += ((merges.size.toLong, x, y, pc))
        }
        st = applyPicked(st, picked)
        r += 1
      }
    }
    merges.toSeq
  }

  /** The production-vocabulary schedule: a MERGE-FRONTIER loop that
    * grows the per-round batch as the pair distribution flattens.
    * Early rounds are contended (a few dominant pairs share tokens —
    * big batches would mostly conflict), so k starts small; each round
    * sets the next k to TWICE the width it actually admitted, clamped
    * to [k0, maxK] — so a full admission doubles k, a half admission
    * holds it, and a contended round tracks the measured
    * disjoint-frontier width down instead of oscillating.
    * Stops at `targetMerges` or pair exhaustion; returns (merges,
    * rounds). With maxK = k0 the schedule degenerates to
    * [[learnBatched]]'s fixed-k loop and the learned PREFIX is
    * identical (`BpeTrainSpec` pins it); k0 = maxK = 1 IS the classic
    * top-1 schedule. Steady-state admission is bounded by the CORPUS's
    * token-disjoint frontier width, not by maxK — measured ~30–36 on a
    * 62-char-alphabet synthetic vocabulary (1024 merges in 34 rounds;
    * 4096 in 114 rounds / 48 s at local[4]), which puts a 32k-merge
    * vocabulary at ~900 vocab-bounded rounds vs 32768 classic jobs and
    * 2048 fixed-k=16 rounds; a real-text corpus (90+ distinct bytes,
    * Zipf vocabulary) has a wider frontier. SCALING.md carries the
    * numbers; `BpeTrainSpec` re-measures the 1024 point each run. */
  private[llm] def learnAdaptive(s: SparkSession, d: String,
      targetMerges: Int, k0: Int = 16, maxK: Int = 512, poolMult: Int = 8)
      : (Seq[(Long, String, String, Long)], Int) = {
    require(k0 >= 1 && maxK >= k0,
      s"learnAdaptive: need 1 <= k0 <= maxK; got k0=$k0 maxK=$maxK")
    var st = Materialize.cut(initState(T.documents(s, d)))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var k = k0
    var rounds = 0
    var done = false
    while (merges.size < targetMerges && !done) {
      val ask = math.min(k, targetMerges - merges.size)
      val picked = countAndPick(st, ask, poolMult)
      if (picked.isEmpty) done = true
      else {
        picked.foreach { case (x, y, pc) =>
          merges += ((merges.size.toLong, x, y, pc))
        }
        st = applyPicked(st, picked)
        rounds += 1
        // frontier feedback: this round's admitted count IS the measured
        // disjoint-frontier width — ask for twice that next round (2×
        // headroom lets a widening frontier be discovered immediately;
        // a full admission therefore doubles k, a contended one tracks
        // the contention down instead of wasting candidate pool)
        k = math.min(math.max(2 * picked.size, k0), maxK)
      }
    }
    (merges.toSeq, rounds)
  }

  /** Registry surface: the learned merges table — (rank, x, y, xy,
    * pair_count) — the artifact a trained tokenizer ships. */
  private def train(s: SparkSession, d: String): DataFrame = {
    val sess = s
    import sess.implicits._
    learn(s, d).map { case (r, x, y, pc) => (r, x, y, x + y, pc) }
      .toDF("rank", "x", "y", "xy", "pair_count")
      .orderBy(col("rank"))
  }

  // ---- bpe_train_tokens: encode the corpus with the TRAINED merges ------
  // The learn→apply composition a real pipeline runs: token counts (and
  // fertility, tokens per character — the standard tokenizer-quality
  // metric) under the merges just learned from THIS corpus, not the
  // pinned table. The learned merges arrive as ≤TrainRounds driver-side
  // constants (the bounded argmax collects), so application is the same
  // narrow shape as encoding: per DISTINCT word, TrainRounds chained
  // literal replaces on the delimited state (each a classic left-to-right
  // pass — Bpe.scala's equivalence argument applies verbatim since
  // learned constituents are, by construction, chars or earlier outputs),
  // then a broadcast-joinable word→count map back onto the corpus. The
  // oracle reuses the training CTE chain: state st{N} IS the encoded
  // vocabulary, so parity holds by construction.
  private def trainTokens(s: SparkSession, d: String): DataFrame = {
    val learned = learn(s, d)
    val wrd = Dedup.words(T.documents(s, d))
    var vocab = wrd.groupBy(col("word")).agg(count(lit(1)).as("n_occ"))
      .withColumn("st",
        concat(lit(B), array_join(split(col("word"), "(?<=.)(?=.)"), B), lit(B)))
    learned.foreach { case (_, x, y, _) =>
      vocab = vocab.withColumn("st",
        call_function("replace", col("st"), lit(s"$D$x$B$y$D"), lit(s"$D$x$y$D")))
    }
    val perWord = vocab.select(col("word"),
      ((length(col("st")) - length(call_function("replace", col("st"), lit(D), lit("")))) / 2 - 1)
        .cast(LongType).as("n_bpe"))
    wrd.join(perWord, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("ws_tokens"), sum(col("n_bpe")).as("bpe_tokens"),
        sum(length(col("word"))).as("word_chars"))
      .select(col("doc_id"), col("ws_tokens"),
        col("bpe_tokens").cast(LongType).as("bpe_tokens"),
        (col("bpe_tokens").cast(DoubleType) /
          col("word_chars").cast(DoubleType)).as("fertility"))
      .orderBy(col("doc_id"))
  }

  private val trainTokensSql = {
    val n = TrainRounds
    val stages = (0 until n).map(stageSql).mkString(",\n")
    s"""WITH st0 AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt,
       |    repeat(chr(1),2) ||
       |      array_to_string(string_split(word, ''), repeat(chr(1),2)) ||
       |      repeat(chr(1),2) AS s
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE word <> '' GROUP BY word),
       |$stages,
       |enc AS (SELECT word,
       |    CAST((len(s) - len(replace(s, chr(1), ''))) / 2 - 1 AS BIGINT) AS n_bpe
       |  FROM st$n),
       |wrd AS (SELECT doc_id, word FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |    FROM documents) WHERE word <> '')
       |SELECT w.doc_id AS doc_id, COUNT(*) AS ws_tokens,
       |  CAST(SUM(e.n_bpe) AS BIGINT) AS bpe_tokens,
       |  CAST(SUM(e.n_bpe) AS DOUBLE) / CAST(SUM(length(w.word)) AS DOUBLE)
       |    AS fertility
       |FROM wrd w JOIN enc e ON w.word = e.word
       |GROUP BY w.doc_id ORDER BY doc_id""".stripMargin
  }

  /** Per-round oracle stage r: tokenize state r, count adjacent pairs,
    * argmax with the pinned tie-break, apply the merge. */
  private def stageSql(r: Int): String =
    s"""tok$r AS (
       |  SELECT word, cnt, list_slice(string_split(s, chr(1)||chr(1)), 2,
       |      len(string_split(s, chr(1)||chr(1))) - 1) AS t
       |  FROM st$r),
       |pc$r AS (
       |  SELECT x, y, CAST(SUM(cnt) AS BIGINT) AS pc FROM (
       |    SELECT word, cnt, t[i] AS x, t[i+1] AS y
       |    FROM tok$r, LATERAL UNNEST(generate_series(1, len(t)-1)) AS u(i))
       |  GROUP BY x, y),
       |best$r AS (SELECT x, y, pc FROM pc$r ORDER BY pc DESC, x, y LIMIT 1),
       |st${r + 1} AS (
       |  SELECT word, cnt,
       |    COALESCE(replace(s, chr(1)||b.x||chr(1)||chr(1)||b.y||chr(1),
       |      chr(1)||b.x||b.y||chr(1)), s) AS s
       |  FROM st$r LEFT JOIN best$r b ON TRUE)""".stripMargin

  private val trainSql = {
    val stages = (0 until TrainRounds).map(stageSql).mkString(",\n")
    val union = (0 until TrainRounds).map(r =>
      s"SELECT CAST($r AS BIGINT) AS rank, x, y, x||y AS xy, pc AS pair_count FROM best$r")
      .mkString(" UNION ALL ")
    s"""WITH st0 AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt,
       |    repeat(chr(1),2) ||
       |      array_to_string(string_split(word, ''), repeat(chr(1),2)) ||
       |      repeat(chr(1),2) AS s
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE word <> '' GROUP BY word),
       |$stages
       |SELECT * FROM ($union) ORDER BY rank""".stripMargin
  }

  override val defs: Seq[(String, QueryDef)] = Seq(
    "bpe_train" -> QueryDef(train, Some(trainSql)),
    "bpe_train_tokens" -> QueryDef(trainTokens, Some(trainTokensSql)),
  )
}
