package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

import graft.core.{Materialize, QueryDef, QueryGroup, Tables => T}
import graft.functions.DotProduct.dot

/** LLM-data-pipeline deduplication + similarity operators (SURVEY.md §2B
  * Q30/Q31 plus the extension inventory): exact fingerprint dedup, MinHash
  * signatures + LSH candidate pairs, SimHash, shingle-set Jaccard,
  * embedding-cosine near-dup with blocking, signed-random-projection LSH
  * buckets, and brute-force cosine top-k as the ANN ground truth.
  *
  * Determinism design: every "random" hash function is derived from md5 of
  * a seed string — identical in Spark and DuckDB, so even the LSH family is
  * oracle-checkable. Floating-point folds are either exact decimals (LSH
  * projections) or rounded through DECIMAL(10,4) at the output (cosines),
  * absorbing sub-ulp association-order differences between engines.
  *
  * Scale notes: all shapes are shuffle-on-key (shingle, band, label) —
  * never an unblocked cross join. The brute-force cosine (q31) broadcasts
  * only the 5-row probe side; candidate ranking is a per-probe window.
  */
object Dedup extends QueryGroup {

  /** 48-bit md5-prefix long of a string column — the repo's portable
    * seeded hash (oracle mirror: `CAST('0x'||substring(md5(x),1,12) AS
    * BIGINT)`). One definition for new call sites so a width/salt change
    * can't desync a query from its oracle SQL. */
  private[llm] def h48(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(c), 1, 12), 16, 10).cast(LongType)

  /** (doc_id, pos, word) with 1-based positions (matches DuckDB
    * generate_subscripts), empty tokens dropped. */
  private[llm] def words(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"),
        posexplode(split(col("text"), " ")).as(Seq("pos0", "word")))
      .filter(col("word") =!= "")
      .withColumn("pos", col("pos0") + 1)
      .drop("pos0")

  /** Word 5-gram shingles (doc_id, pos, sh), built per row with array
    * higher-order functions — no shuffle, no window sort: the whole
    * shingling stage stays inside the scan's codegen, which is the shape
    * that survives a 100× scale-up (shingling 100 TB of documents is then
    * embarrassingly parallel). */
  private[llm] def shingles(docs: DataFrame): DataFrame =
    // codegen'd one-pass shingling (graft.functions.Shingles): the HOF
    // form (transform + slice + concat_ws) evaluates interpreted per
    // element and profiled ~20× slower; strings are byte-identical so
    // every downstream md5 and all oracle SQL are unchanged
    docs
      .select(col("doc_id"),
        posexplode(graft.functions.Shingles.shingleNgrams(col("text"), 5))
          .as(Seq("pos0", "sh")))
      .withColumn("pos", col("pos0") + 1)
      .select(col("doc_id"), col("pos"), col("sh"))

  /** The (doc_id, pos, shh) hashed-shingle relation — the words→shingle→
    * md5 pipeline nine text/dedup queries start from (q30b, lsh_recall,
    * prefix_filter, the capped-set family, winnow, boilerplate and the
    * three span queries), derived from the base table on every call. */
  private[llm] def shingleHashes(s: SparkSession, d: String): DataFrame =
    shingles(T.documents(s, d))
      .select(col("doc_id"), col("pos"), h48(col("sh")).as("shh"))

  /** Covered duplicated positions (doc_id, pos): every word position
    * inside a 5-gram whose distinct-doc df is ≥ 2 — the C4-style span
    * relation `text_dedup_spans` (cut), `text_dup_span_merge` (islands)
    * and `text_dup_coverage` (count) all start from. */
  private[llm] def coveredPositions(s: SparkSession, dir: String): DataFrame = {
    // cached: the dup-df probe and the covered-position expansion both
    // read the relation
    val hsh = shingleHashes(s, dir).cache()
    val dup = hsh.select(col("doc_id"), col("shh")).distinct()
      .groupBy(col("shh")).agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") >= 2).select(col("shh"))
    hsh.join(dup, Seq("shh"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + 4)).as("pos"))
      .distinct()
  }

  /** Null-safe squared-norm SQL for embedding oracles: the CASE defers
    * `list_inner_product` (which hard-errors on NULL list elements) until
    * the null-element check has passed — DuckDB evaluates CASE branches
    * with selection vectors, so the ELSE runs only on clean rows. Mirrors
    * the engine side, where the null-propagating dot_product makes
    * `nsq > 0` drop the same vectors. */
  private[llm] val guardedNsq: String =
    """CASE WHEN len(list_filter(embedding, v -> v IS NULL)) > 0 THEN NULL
      |         ELSE list_inner_product(CAST(embedding AS DOUBLE[]),
      |                                 CAST(embedding AS DOUBLE[])) END""".stripMargin

  /** Shared SQL CTE prefix producing the same words/shingles relations. */
  private[llm] val shingleCte =
    """WITH wrd AS (
      |  SELECT doc_id, lang, word, pos FROM (
      |    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word,
      |           generate_subscripts(string_split(text, ' '), 1) AS pos
      |    FROM documents) WHERE word <> ''),
      |shg AS (
      |  SELECT doc_id, pos, sh FROM (
      |    SELECT doc_id, pos,
      |      string_agg(word, ' ') OVER (PARTITION BY doc_id ORDER BY pos
      |        ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS sh,
      |      COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
      |        ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS n_in
      |    FROM wrd) WHERE n_in = 5),
      |dsh AS (SELECT DISTINCT doc_id, sh FROM shg)""".stripMargin

  // ---- Q30: exact-dup fingerprint groups --------------------------------
  private def q30(s: SparkSession, d: String): DataFrame =
    T.documents(s, d)
      .select(col("doc_id"),
        graft.core.Tables.textFingerprint(col("text")).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("first_doc"))
      .orderBy(col("fp"))

  private val q30Sql =
    """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
      |  COUNT(*) AS n_copies, MIN(doc_id) AS first_doc
      |FROM documents GROUP BY fp ORDER BY fp""".stripMargin

  // ---- dedup_canonical: survivor selection per duplicate group ----------
  // The dedup endgame after grouping: each fingerprint group keeps its
  // best member — longest text, ties to the smallest doc_id via the
  // lexicographic struct-max idiom (q35), since arg-max under ties is
  // unspecified in both engines. One hash aggregation; the winner column
  // makes the result directly usable as a keep-list.
  private def dedupCanonical(s: SparkSession, d: String): DataFrame =
    T.documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        graft.core.Tables.textFingerprint(col("text")).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_copies"),
        (-max(struct(col("n_chars").as("q"), (-col("doc_id")).as("negid")))
          .getField("negid")).as("keep_doc"),
        max(col("n_chars")).as("keep_chars"))
      .orderBy(col("fp"))

  private val dedupCanonicalSql =
    """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
      |  COUNT(*) AS n_copies,
      |  -((max({'q': n_chars, 'negid': -doc_id})).negid) AS keep_doc,
      |  MAX(n_chars) AS keep_chars
      |FROM documents GROUP BY fp ORDER BY fp""".stripMargin

  // ---- Q30b: per-doc shingle stats ---------------------------------------
  // Shingles are hashed to 48-bit md5-prefix longs BEFORE the distinct
  // aggregation, so the countDistinct shuffle carries 8-byte keys instead
  // of ~30-byte 5-word strings (2^-48 collision odds, mirrored in the
  // oracle) — the shape that holds at 100 TB.
  private def q30b(s: SparkSession, d: String): DataFrame =
    shingleHashes(s, d)
      .select(col("doc_id"), col("shh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        countDistinct(col("shh")).as("n_distinct"))
      .orderBy(col("doc_id"))

  private val q30bSql =
    s"""$shingleCte
       |SELECT doc_id, COUNT(*) AS n_grams,
       |  COUNT(DISTINCT CAST('0x' || substring(md5(sh), 1, 12) AS BIGINT)) AS n_distinct
       |FROM shg GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- Q31: brute-force cosine top-k (ANN ground truth) ------------------
  // Probe side (5 vectors) is broadcast; ranking is a per-probe window.
  // At 100 TB the window becomes a two-phase top-k (per-partition heap +
  // merge) — see the CosineTopK note in SURVEY.md §4.2.
  private def q31(s: SparkSession, d: String): DataFrame = {
    val e = T.embeddings(s, d).select(col("vec_id"),
      transform(col("embedding"), x => x.cast(DoubleType)).as("emb"))
    // zero-norm (incl. empty) vectors have no cosine — excluded here and
    // in the oracle; ANSI would otherwise throw DIVIDE_BY_ZERO on them
    val n = e.withColumn("nsq", dot(col("emb"), col("emb")))
      .where(col("nsq") > 0)
    val q = n.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("nsq").as("q_nsq"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    n.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("dot", dot(col("q_emb"), col("emb")))
      .withColumn("cos", col("dot") / (sqrt(col("q_nsq")) * sqrt(col("nsq"))))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        // round through DECIMAL(10,4) (absorbs sub-ulp association-order
        // drift), then cast DOUBLE so the driver's hasher canonicalizes
        col("cos").cast(DecimalType(10, 4)).cast(DoubleType).as("cos_sim"),
        col("rn"))
      .orderBy(col("q_id"), col("rn"))
  }

  private val q31Sql =
    s"""WITH n AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
      |    $guardedNsq AS nsq
      |  FROM embeddings
      |  WHERE $guardedNsq > 0),
      |p AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
      |    list_inner_product(q.emb, c.emb) / (sqrt(q.nsq) * sqrt(c.nsq)) AS cos
      |  FROM n q JOIN n c ON q.vec_id < 5 AND q.vec_id <> c.vec_id)
      |SELECT q_id, neighbor_id,
      |  CAST(CAST(cos AS DECIMAL(10,4)) AS DOUBLE) AS cos_sim, rn
      |FROM (SELECT *, CAST(ROW_NUMBER() OVER (
      |        PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rn
      |      FROM p)
      |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin

  // ---- ann_mips_topk: maximum inner-product search -----------------------
  // Recommenders rank by RAW inner product ⟨q, x⟩ — cosine normalizes
  // away the magnitude a learned item embedding deliberately carries
  // (popular items have longer vectors), so the cosine family cannot
  // serve them directly. This is the exact brute-force MIPS baseline
  // (broadcast probes, per-probe window top-k — q31's shape, minus the
  // norm division). The SCALE path is the Neyshabur–Srebro reduction:
  // augment x → [x, √(M²−|x|²)] (M = max corpus norm) and q → [q, 0];
  // augmented cosine order equals inner-product order, so every cosine
  // ANN index in this library (LSH / IVF / PQ) serves MIPS unchanged —
  // `MipsReductionSpec` proves the order equivalence on the fixture.
  private def mipsTopk(s: SparkSession, d: String): DataFrame = {
    val e = T.embeddings(s, d).select(col("vec_id"),
      transform(col("embedding"), x => x.cast(DoubleType)).as("emb"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("ip").desc, col("vec_id"))
    e.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("ip", dot(col("q_emb"), col("emb")))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        col("ip").cast(DecimalType(10, 4)).cast(DoubleType)
          .as("inner_product"),
        col("rn"))
      .orderBy(col("q_id"), col("rn"))
  }

  private val mipsTopkSql =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |p AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
      |    list_inner_product(q.emb, c.emb) AS ip
      |  FROM e q JOIN e c ON q.vec_id < 5 AND q.vec_id <> c.vec_id)
      |SELECT q_id, neighbor_id,
      |  CAST(CAST(ip AS DECIMAL(10,4)) AS DOUBLE) AS inner_product, rn
      |FROM (SELECT *, CAST(ROW_NUMBER() OVER (
      |        PARTITION BY q_id ORDER BY ip DESC, neighbor_id) AS BIGINT) AS rn
      |      FROM p)
      |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin

  /** The MIPS→cosine reduction, exposed for the spec and for callers
    * routing MIPS through a cosine index: augmented corpus vectors
    * [x, √(M²−|x|²)] (all exactly norm M) and probe augmentation [q, 0].
    * With every corpus norm equal, cosine order per probe IS ⟨q, x⟩
    * order. */
  private[llm] def mipsAugment(e: DataFrame): DataFrame = {
    val nsq = e.withColumn("nsq", dot(col("emb"), col("emb")))
    val m2 = nsq.agg(max(col("nsq")).as("m2"))
    nsq.crossJoin(broadcast(m2))
      .withColumn("aug",
        concat(col("emb"), array(sqrt(col("m2") - col("nsq")))))
      .drop("nsq", "m2")
  }

  // ---- MinHash signatures (8 hash functions over shingle sets) ----------
  // One md5 per shingle; the hash family is the standard affine
  // construction h_i = (h1 + i*h2) mod p over two 48-bit halves of the
  // digest — one md5 per shingle instead of per-(i, shingle) at identical
  // collision behavior, and still portable to the DuckDB oracle.

  /** The graded queries pin (bands=8, modulus=1000003): right for the
    * graded fixtures, where expected band df is ≪ the hot-band cap. */
  private[llm] val GradedBands = 8
  private[llm] val GradedModulus = 1000003L
  private[llm] val GradedMaxBandDf = 50L

  /** Largest bands × modulus band space for which the hot-band table is
    * force-broadcast; beyond it the banded join must shuffle — see
    * minhashPairsOf. Sized honestly: 8M (i, minhash) rows carry ~16
    * data bytes each but a broadcast HashedRelation's layout is ~3×
    * that, so the WORST case is ~400 MB on the driver (needs the
    * standard ≥4g driver; realistically far less, since only band
    * values with df ≤ cap survive the hot-band filter). The graded pin
    * (8 bands × modulus 1000003 ≈ 8.0M) sits just inside, keeping the
    * PlanSpec-pinned broadcast shape. */
  private[llm] val MaxBroadcastBandSpace = 8L << 20

  /** Band-space-parameterized signature computation (SCALING.md ceiling
    * #1): `modulus` bounds the per-band value space, so once the corpus
    * approaches it every band value goes hot and the df cap destroys
    * recall instead of taming skew. Deployments must scale the modulus
    * with corpus size — keep expected band df = docs/modulus well under
    * the cap (a prime ≥ ~100 × corpus doc count keeps E[df] ≤ 0.01 —
    * `MinhashScaleSpec` proves recall holds at 10× the fixture's doc
    * count under this rule). More bands sharpen the S-curve at
    * proportional signature cost. */
  private[llm] def minhashSigOf(docs: DataFrame, bands: Int,
      modulus: Long): DataFrame = {
    val dsh = shingles(docs).select("doc_id", "sh").distinct()
      .withColumn("h1",
        h48(col("sh")))
      .withColumn("h2",
        conv(substring(md5(col("sh")), 17, 12), 16, 10).cast(LongType))
    // all band minima in ONE aggregation pass over the shingle rows (no
    // per-band row replication); the per-doc wide result is then
    // unpivoted — the map-side-combine shape for signatures at scale
    val aggs = (0 until bands).map(i =>
      min((col("h1") + lit(i.toLong) * col("h2")) % modulus).as(s"m$i"))
    val stackExpr = (0 until bands)
      .map(i => s"CAST($i AS BIGINT), m$i").mkString(", ")
    dsh.groupBy(col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        expr(s"stack($bands, $stackExpr) AS (i, minhash)"))
  }

  private def minhashSig(s: SparkSession, d: String): DataFrame =
    minhashSigOf(T.documents(s, d), GradedBands, GradedModulus)
      .orderBy(col("doc_id"), col("i"))

  private val minhashSigSql =
    s"""$shingleCte,
       |hs AS (
       |  SELECT doc_id, sh,
       |    CAST('0x' || substring(md5(sh), 1, 12) AS BIGINT) AS h1,
       |    CAST('0x' || substring(md5(sh), 17, 12) AS BIGINT) AS h2
       |  FROM dsh)
       |SELECT doc_id, i, MIN((h1 + i * h2) % 1000003) AS minhash
       |FROM hs CROSS JOIN (SELECT unnest(range(8)) AS i)
       |GROUP BY doc_id, i ORDER BY doc_id, i""".stripMargin

  // ---- MinHash LSH candidate pairs (join on matching signature rows) ----
  // The join key is (i, minhash) — docs never meet unless they collide on
  // a signature, which is the LSH banding idea (band size 1, `bands`
  // bands).

  /** Band-space-parameterized candidate pairs; see [[minhashSigOf]] for
    * the corpus-scaling rule on `modulus` and `maxBandDf`. */
  private[llm] def minhashPairsOf(docs: DataFrame, bands: Int,
      modulus: Long, maxBandDf: Long): DataFrame = {
    // self-joined: compute once
    val sig = minhashSigOf(docs, bands, modulus).cache()
    // hot-band guard: a band value shared by f docs emits f² pairs, so one
    // popular signature is quadratic at scale — drop bands with df >
    // maxBandDf (stop-band removal; same cap jaccardPairs applies to stop
    // shingles). Only valid when the band space is corpus-scaled: with
    // docs ≈ modulus, EVERY value goes hot and the cap silently deletes
    // the candidate set instead of trimming skew.
    val cool = sig.groupBy(col("i"), col("minhash"))
      .agg(count(lit(1)).as("bdf"))
      .filter(col("bdf") <= maxBandDf)
      .select(col("i"), col("minhash"))
    // FORCED broadcast when the band space proves it small: |cool| ≤
    // bands × modulus distinct (i, minhash) rows, so under the bound the
    // build side is provably broadcast-sized and the forced hint removes
    // the AQE size re-decision that was the round-12 driver-side 4x
    // outlier on this family (the same class the r11 bigram/kneser fix
    // pinned; PlanSpec pins the graded shape). ABOVE the bound the bound
    // itself is the warning: under the corpus-scaling rule (modulus ≥
    // ~100 × docs) |cool| grows with the corpus — bands × docs rows in
    // practice — and forcing a broadcast there would OOM the driver at
    // exactly the scale the parameterization targets, so the join is
    // left to shuffle/AQE.
    val bandSpace = bands.toLong * modulus
    val coolSide = if (bandSpace <= MaxBroadcastBandSpace) broadcast(cool) else cool
    val kept = sig.join(coolSide, Seq("i", "minhash"))
    val a = kept.select(col("doc_id").as("doc_a"), col("i"), col("minhash"))
    val b = kept.select(col("doc_id").as("doc_b"), col("i"), col("minhash"))
    a.join(b, Seq("i", "minhash"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_match"))
      .withColumn("jaccard_est",
        col("n_match").cast(DoubleType) / bands)
  }

  private def minhashPairs(s: SparkSession, d: String): DataFrame =
    minhashPairsOf(T.documents(s, d), GradedBands,
      GradedModulus, GradedMaxBandDf)
      .orderBy(col("jaccard_est").desc, col("doc_a"), col("doc_b"))
      .limit(100)

  private val minhashPairsSql =
    s"""$shingleCte,
       |hs AS (
       |  SELECT doc_id, sh,
       |    CAST('0x' || substring(md5(sh), 1, 12) AS BIGINT) AS h1,
       |    CAST('0x' || substring(md5(sh), 17, 12) AS BIGINT) AS h2
       |  FROM dsh),
       |sig AS (
       |  SELECT doc_id, i, MIN((h1 + i * h2) % 1000003) AS minhash
       |  FROM hs CROSS JOIN (SELECT unnest(range(8)) AS i)
       |  GROUP BY doc_id, i),
       |cool AS (SELECT i, minhash FROM sig GROUP BY i, minhash HAVING COUNT(*) <= 50),
       |kept AS (SELECT sig.doc_id, sig.i, sig.minhash
       |         FROM sig JOIN cool USING (i, minhash))
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_match,
       |  CAST(COUNT(*) AS DOUBLE) / 8 AS jaccard_est
       |FROM kept a JOIN kept b ON a.i = b.i AND a.minhash = b.minhash
       |  AND a.doc_id < b.doc_id
       |GROUP BY doc_a, doc_b
       |ORDER BY jaccard_est DESC, doc_a, doc_b LIMIT 100""".stripMargin

  // ---- MinHash LSH recall evaluation (the banding S-curve) ---------------
  // The tuning question every LSH deployment answers before trusting its
  // blocking: at each true-similarity level, what fraction of pairs does
  // the banding actually catch? Ground truth is the EXHAUSTIVE Jaccard
  // pair set (uncapped — the same sets the signatures hash) restricted to
  // J ≥ 0.3; candidates are the production banding (8 bands of 1 row,
  // hot-band df ≤ 50 guard — exactly `dedup_minhash_pairs`' construction).
  // Buckets are integer-exact: tenths = (10·inter) div union, never a
  // float floor; recall is the one terminal IEEE division. At 100 TB the
  // truth side is sampled (exhaustion is the evaluation's cost, not the
  // pipeline's) — this is the oracle-checkable exact form.
  private def lshRecall(s: SparkSession, d: String): DataFrame = {
    val dsh = shingleHashes(s, d)
      .select(col("doc_id"), col("shh").as("sh")).distinct()
      .cache() // truth self-join reads both sides
    val sizes = dsh.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
    val truth = dsh.select(col("doc_id").as("doc_a"), col("sh"))
      .join(dsh.select(col("doc_id").as("doc_b"), col("sh")), Seq("sh"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("nsh").as("na")),
        Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("nsh").as("nb")),
        Seq("doc_b"))
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .filter(col("inter") * 10 >= col("uni") * 3)
      .withColumn("jaccard_tenths", expr("(inter * 10) div uni"))
    // cached: the hot-band filter and both self-join sides read them
    // within this one timed query
    val sig = minhashSigOf(T.documents(s, d), GradedBands, GradedModulus)
      .cache()
    val cool = sig.groupBy(col("i"), col("minhash"))
      .agg(count(lit(1)).as("bdf"))
      .filter(col("bdf") <= 50).select(col("i"), col("minhash"))
    val kept = sig.join(cool, Seq("i", "minhash"))
    val cand = kept
      .select(col("doc_id").as("doc_a"), col("i"), col("minhash"))
      .join(kept.select(col("doc_id").as("doc_b"), col("i"), col("minhash")),
        Seq("i", "minhash"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
      .withColumn("caught", lit(1L))
    truth.join(cand, Seq("doc_a", "doc_b"), "left")
      .groupBy(col("jaccard_tenths"))
      .agg(count(lit(1)).as("n_pairs"), count(col("caught")).as("n_caught"))
      .withColumn("recall",
        col("n_caught").cast(DoubleType) / col("n_pairs").cast(DoubleType))
      .orderBy(col("jaccard_tenths"))
  }

  private val lshRecallSql =
    s"""$shingleCte,
       |dshh AS (SELECT DISTINCT doc_id,
       |  CAST('0x' || substring(md5(sh), 1, 12) AS BIGINT) AS sh FROM shg),
       |sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM dshh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
       |  FROM dshh a JOIN dshh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY doc_a, doc_b),
       |truth AS (
       |  SELECT doc_a, doc_b,
       |    (n_common * 10) // (sa.nsh + sb.nsh - n_common) AS jaccard_tenths
       |  FROM inter
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b
       |  WHERE n_common * 10 >= (sa.nsh + sb.nsh - n_common) * 3),
       |hs AS (
       |  SELECT doc_id, sh,
       |    CAST('0x' || substring(md5(sh), 1, 12) AS BIGINT) AS h1,
       |    CAST('0x' || substring(md5(sh), 17, 12) AS BIGINT) AS h2
       |  FROM dsh),
       |sig AS (
       |  SELECT doc_id, i, MIN((h1 + i * h2) % 1000003) AS minhash
       |  FROM hs CROSS JOIN (SELECT unnest(range(8)) AS i)
       |  GROUP BY doc_id, i),
       |cool AS (SELECT i, minhash FROM sig GROUP BY i, minhash HAVING COUNT(*) <= 50),
       |kept AS (SELECT sig.doc_id, sig.i, sig.minhash
       |         FROM sig JOIN cool USING (i, minhash)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM kept a JOIN kept b ON a.i = b.i AND a.minhash = b.minhash
       |    AND a.doc_id < b.doc_id)
       |SELECT jaccard_tenths, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  CAST(COUNT(c.doc_a) AS BIGINT) AS n_caught,
       |  CAST(COUNT(c.doc_a) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
       |FROM truth t LEFT JOIN cand c USING (doc_a, doc_b)
       |GROUP BY jaccard_tenths ORDER BY jaccard_tenths""".stripMargin

  // ---- SimHash (16-bit, term-frequency weighted) -------------------------
  // Bit j of a word = (j-th hex nibble of md5(word)) >= 8; per-doc bit =
  // sign of the ±1 vote sum — all-integer arithmetic, exactly portable.
  private def simhash(s: SparkSession, d: String): DataFrame = {
    // One pass, no ×16 bit explode (same shape as simhashPairs below):
    // vote_j is +1 iff hex nibble j+1 of md5(word) ≥ 8, i.e. iff the
    // nibble's TOP BIT is set — bit (51−4c) of the first-12-hex-chars
    // long for chars c=1..12, bit (19−4p) of the chars-13..16 long for
    // p=c−12. 16 codegen'd sums per doc replace 16× the word rows.
    val wr = words(T.documents(s, d))
      .withColumn("h", md5(col("word")))
      .select(col("doc_id"),
        conv(substring(col("h"), 1, 12), 16, 10).cast(LongType).as("ha"),
        conv(substring(col("h"), 13, 4), 16, 10).cast(LongType).as("hb"))
    def bitTest(j: Int): String = { // top bit of hex nibble j+1
      val c = j + 1
      if (c <= 12) s"(ha >> ${51 - 4 * c}) & 1" else s"(hb >> ${19 - 4 * (c - 12)}) & 1"
    }
    val bitSums = (0 until 16).map(j =>
      sum(expr(bitTest(j))).as(s"s$j")) :+ count(lit(1)).as("n")
    wr.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until 16).map(j => when(col(s"s$j") * 2 > col("n"),
          lit(1L << j)).otherwise(0L)).reduce(_ + _).as("simhash16"))
      .orderBy(col("doc_id"))
  }

  private val simhashSql =
    """WITH wrd AS (
      |  SELECT doc_id, word FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |    FROM documents) WHERE word <> ''),
      |votes AS (
      |  SELECT doc_id, j,
      |    SUM(CASE WHEN strpos('0123456789abcdef',
      |          substring(md5(word), CAST(j+1 AS INT), 1)) - 1 >= 8
      |        THEN 1 ELSE -1 END) AS v
      |  FROM wrd CROSS JOIN (SELECT unnest(range(16)) AS j)
      |  GROUP BY doc_id, j)
      |SELECT doc_id,
      |  CAST(SUM(CASE WHEN v > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END)
      |    AS BIGINT) AS simhash16
      |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- SimHash near-dup pairs (48-bit, banded hamming) -------------------
  // Completes the simhash story: candidates meet only inside a shared
  // 12-bit band of a 48-bit signature (4 bands). Recall contract: by
  // pigeonhole, any pair within hamming 3 MUST share an intact band
  // (complete recall up to 3 flips); pairs at distance 4-5 can touch all
  // four bands and are found only when some band happens to survive —
  // the standard banding trade, which the oracle mirrors exactly so
  // parity is unaffected. A hot-band frequency cap (≤ 50 docs per band
  // value, mirrored in the oracle) keeps the self-join linear — one
  // popular band value is otherwise quadratic at 100 TB, the same guard
  // as the minhash band join. 48-bit signatures come from one md5 prefix
  // per word (ANSI-safe longs).
  /** The row-count ceiling for force-broadcasting a pair set derived
    * in-plan: ~2M (doc_a, doc_b) rows ≈ ~200 MB as a broadcast
    * HashedRelation — safe on the standard driver. Above it the join is
    * left to shuffle/AQE: at SCALING.md's corpus targets the pair count
    * grows with the corpus and an unconditional broadcast would OOM the
    * driver. */
  private[llm] val MaxPairsBroadcastRows = 2000000L

  private def simhashPairsGraded(s: SparkSession, d: String): DataFrame =
    simhashPairs(s, d).orderBy(col("doc_a"), col("doc_b"))

  /** The banded-simhash candidate pairs (doc_a, doc_b, hamming) three
    * queries start from (`dedup_simhash_pairs`, `dedup_tf_cosine`'s
    * candidate set, `text_edit_distance`'s re-rank input). Unordered:
    * the GRADED row re-sorts ([[simhashPairsGraded]]); join consumers
    * don't care. */
  private[llm] def simhashPairs(s: SparkSession, d: String): DataFrame = {
    val wh = words(T.documents(s, d)).select(col("doc_id"),
      h48(col("word")).as("h48"))
    // one pass, no bit explode: 48 codegen'd popcount sums per doc; the
    // ±1 vote sum is 2·Σbit − n, so bit j of the signature is set iff
    // 2·s_j > n — identical values to the exploded formulation (which
    // generated 48× the word rows through the aggregation; 14.5 s → ~2 s
    // at sf0.1)
    val bitSums = (0 until 48).map(j =>
      sum(expr(s"(h48 >> $j) & 1")).as(s"s$j")) :+ count(lit(1)).as("n")
    val sigs = wh.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until 48).map(j => when(col(s"s$j") * 2 > col("n"),
          lit(1L << j)).otherwise(0L)).reduce(_ + _).as("sig"))
    // cached: read three times (hot-band filter + both self-join sides) —
    // same pattern as jaccardPairs' kept set; without it the whole
    // words→md5→48-sum pipeline re-executes per read
    val bands = sigs.select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(3))).as("b"))
      .withColumn("bv", expr("shiftright(sig, cast(b*12 as int)) & 4095"))
      .cache()
    val ok = bands.groupBy(col("b"), col("bv"))
      .agg(count(lit(1)).as("n")).filter(col("n") <= 50).drop("n")
    val kept = bands.join(ok, Seq("b", "bv"))
    val x = kept.select(col("b"), col("bv"), col("doc_id").as("doc_a"),
      col("sig").as("sig_a"))
    val y = kept.select(col("b"), col("bv"), col("doc_id").as("doc_b"),
      col("sig").as("sig_b"))
    x.join(y, Seq("b", "bv")).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sig_a"), col("sig_b"))
      .distinct()
      .withColumn("hamming",
        expr("bit_count(sig_a ^ sig_b)").cast(LongType))
      .filter(col("hamming") <= 5)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
    // no trailing orderBy: consumers either re-sort (the graded row) or
    // join (order irrelevant), so a range-sort shuffle here is pure cost
  }

  /** CTE chain through `pairs` (banded simhash candidates) — shared with
    * TextStats.editDistance, which re-ranks the same candidate set. */
  private[llm] val simhashPairsCte =
    """WITH wrd AS (
      |  SELECT doc_id, word FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |    FROM documents) WHERE word <> ''),
      |wh AS (SELECT doc_id,
      |         CAST('0x'||substring(md5(word),1,12) AS BIGINT) AS h48
      |       FROM wrd),
      |bits AS (SELECT doc_id, j,
      |           SUM(CASE WHEN (h48 >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |         FROM wh CROSS JOIN (SELECT unnest(range(48)) AS j)
      |         GROUP BY doc_id, j),
      |sigs AS (SELECT doc_id,
      |           CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << j)
      |                    ELSE 0 END) AS BIGINT) AS sig
      |         FROM bits GROUP BY doc_id),
      |bands AS (SELECT doc_id, sig, b, (sig >> CAST(b*12 AS INT)) & 4095 AS bv
      |          FROM sigs CROSS JOIN (SELECT unnest(range(4)) AS b)),
      |ok AS (SELECT b, bv FROM bands GROUP BY b, bv HAVING COUNT(*) <= 50),
      |kept AS (SELECT bands.* FROM bands JOIN ok USING (b, bv)),
      |pairs AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
      |            x.sig AS sig_a, y.sig AS sig_b
      |          FROM kept x JOIN kept y
      |            ON x.b = y.b AND x.bv = y.bv AND x.doc_id < y.doc_id)""".stripMargin

  private val simhashPairsSql =
    s"""$simhashPairsCte
       |SELECT doc_a, doc_b, CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
       |FROM pairs WHERE bit_count(xor(sig_a, sig_b)) <= 5
       |ORDER BY doc_a, doc_b""".stripMargin

  /** CTE chain through `inter` (hashed distinct shingles → stop-shingle
    * cap → shared-shingle counts) — the SQL replay of [[jaccardPairs]],
    * shared by every oracle that builds on the Jaccard pair graph
    * (ngram pairs, clusters, PageRank, the ML cross-check). One copy: a
    * df-cap or hashing change can never desync a subset of them. */
  private[llm] val jaccardCte =
    s"""$shingleCte,
       |dshh AS (SELECT DISTINCT doc_id,
       |  CAST('0x' || substring(md5(sh), 1, 12) AS BIGINT) AS sh FROM shg),
       |rare AS (SELECT sh FROM dshh GROUP BY sh HAVING COUNT(*) <= 50),
       |kept AS (SELECT doc_id, dshh.sh FROM dshh JOIN rare ON dshh.sh = rare.sh),
       |sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM kept GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
       |  FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY doc_a, doc_b)""".stripMargin

  // ---- Content-defined chunking (FastCDC-style, word granularity) --------
  // Fixed-size chunking (chunk_documents) breaks under INSERTION: one
  // prepended word shifts every later chunk boundary, and no chunk of the
  // edited document matches the original. Content-defined chunking cuts
  // where the CONTENT says to — here, after any word whose 48-bit hash is
  // ≡ 0 (mod 16), giving ~16-word expected chunks — so an edit only
  // disturbs the chunk it lands in and boundaries re-synchronize at the
  // next content cut (the storage-dedup CDC principle, word-granular).
  // The query surfaces the cross-corpus duplicate chunks: fingerprint
  // each chunk, group, report the most-shared ones.
  //
  // Scale shape: boundary flags are a narrow map over the token stream;
  // chunk ids are ONE per-doc running sum (the doc_id exchange the text
  // family reuses); chunk assembly is a per-(doc, chunk) agg whose
  // output is corpus-linear with ~16× fewer rows than tokens; the
  // duplicate report is a fingerprint hash agg. No pairwise anything.
  /** (doc_id, chunk_id, chunk fingerprint, n_words) per CDC chunk. */
  private[llm] def cdcChunks(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    words(docs)
      // cut AFTER a boundary word: the chunk id is the count of boundary
      // words strictly BEFORE this position
      .withColumn("bnd", when(pmod(h48(col("word")), lit(16L)) === 0, 1L)
        .otherwise(0L))
      .withColumn("cid", coalesce(sum(col("bnd")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .groupBy(col("doc_id"), col("cid"))
      .agg(count(lit(1)).as("n_words"),
        // collect_list is unordered under a group agg — sort by the
        // carried pos so the assembled text is deterministic
        md5(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("word")))),
          x => x.getField("word")))).as("fp"))
  }

  private def cdcDupChunks(s: SparkSession, d: String): DataFrame =
    cdcChunks(T.documents(s, d))
      .groupBy(col("fp"), col("n_words"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("n_occurrences").desc, col("fp"))
      .limit(25)

  private val cdcDupChunksSql =
    """WITH wrd AS (
      |  SELECT doc_id, word, pos FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS word,
      |           generate_subscripts(string_split(text, ' '), 1) AS pos
      |    FROM documents) WHERE word <> ''),
      |b AS (
      |  SELECT doc_id, word, pos,
      |    CASE WHEN CAST('0x' || substring(md5(word), 1, 12) AS BIGINT)
      |      % 16 = 0 THEN 1 ELSE 0 END AS bnd
      |  FROM wrd),
      |c AS (
      |  SELECT doc_id, word, pos,
      |    COALESCE(SUM(bnd) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cid
      |  FROM b),
      |chunks AS (
      |  SELECT doc_id, cid, CAST(COUNT(*) AS BIGINT) AS n_words,
      |    md5(string_agg(word, ' ' ORDER BY pos)) AS fp
      |  FROM c GROUP BY doc_id, cid)
      |SELECT fp, n_words, COUNT(DISTINCT doc_id) AS n_docs,
      |  CAST(COUNT(*) AS BIGINT) AS n_occurrences
      |FROM chunks
      |GROUP BY fp, n_words
      |HAVING COUNT(DISTINCT doc_id) >= 2
      |ORDER BY n_docs DESC, n_occurrences DESC, fp
      |LIMIT 25""".stripMargin

  // ---- text_dup_coverage: duplicated-n-gram token coverage ----------------
  // The memorization-risk signal dedup papers report alongside pair
  // counts: what fraction of each document's TOKENS sits inside at least
  // one 5-gram that also appears in another document. Pair-level dedup
  // misses it (a doc can be 40% boilerplate without any single near-dup
  // partner); intra-doc repetition is text_repetition's job — here the
  // duplicated set is cross-doc (distinct-doc df ≥ 2).
  //
  // Scale shape: duplicated-shingle detection is one hash agg on 48-bit
  // hashes; coverage expands each duplicated OCCURRENCE to its 5 token
  // positions (a ≤5× fan-out of the duplicated subset only, never the
  // corpus), dedupes (doc, pos), and counts — all narrow or keyed by
  // doc_id, the text family's standard exchange.
  private def dupCoverage(s: SparkSession, d: String): DataFrame = {
    val docs = T.documents(s, d)
    // the covered-position relation the three span queries share;
    // countDistinct(doc_id) >= 2 and distinct-then-count >= 2 select the
    // identical dup-shingle set
    val covered = coveredPositions(s, d)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_covered"))
    words(docs).groupBy(col("doc_id")).agg(count(lit(1)).as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .withColumn("n_covered", coalesce(col("n_covered"), lit(0L)))
      .withColumn("coverage", col("n_covered").cast(DoubleType) /
        col("n_tokens").cast(DoubleType))
      .orderBy(col("doc_id"))
  }

  private val dupCoverageSql =
    s"""$shingleCte,
       |shh AS (SELECT doc_id, pos,
       |  CAST('0x' || substring(md5(sh), 1, 12) AS BIGINT) AS shh FROM shg),
       |dup AS (SELECT shh FROM shh GROUP BY shh
       |        HAVING COUNT(DISTINCT doc_id) >= 2),
       |cov AS (SELECT DISTINCT doc_id, pos + o.off AS cp
       |        FROM shh SEMI JOIN dup USING (shh)
       |        CROSS JOIN (SELECT UNNEST(generate_series(0, 4)) AS off) o),
       |nc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_covered
       |       FROM cov GROUP BY doc_id),
       |tk AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens
       |       FROM wrd GROUP BY doc_id)
       |SELECT tk.doc_id, n_tokens, COALESCE(n_covered, 0) AS n_covered,
       |  CAST(COALESCE(n_covered, 0) AS DOUBLE) / CAST(n_tokens AS DOUBLE)
       |    AS coverage
       |FROM tk LEFT JOIN nc ON nc.doc_id = tk.doc_id
       |ORDER BY tk.doc_id""".stripMargin

  // ---- Set-similarity join via prefix filtering (SSJoin/PPJoin) ----------
  // The EXACT-recall alternative to the stop-shingle cap: the cap keeps
  // the shared-shingle join linear by REDEFINING the sets (frequent
  // shingles vanish — recall is lost whenever a near-dup pair's overlap
  // lives in boilerplate). Prefix filtering (Chaudhuri et al. SSJoin
  // 2006; Bayardo et al. 2007) keeps the FULL sets and still bounds the
  // join: order every set by one global token order (rarest first) and
  // index only each doc's first m − ⌈t·m⌉ + 1 tokens — any pair with
  // Jaccard ≥ t provably collides inside those prefixes, so the
  // candidate join runs on a (1−t)-fraction of the rarest tokens and
  // misses nothing. Candidates are then verified with exact integer
  // arithmetic (3·|A∩B| ≥ |A|+|B| ⇔ J ≥ 1/2 — never a float threshold).
  // The oracle is the EXHAUSTIVE uncapped join, so the driver grades the
  // lossless claim itself on every run.
  /** Exact Jaccard ≥ 1/2 pairs over UNCAPPED distinct shingle sets. */
  private[llm] def prefixFilterPairs(docs: DataFrame): DataFrame =
    prefixFilterPairsFrom(shingles(docs)
      .select(col("doc_id"), h48(col("sh")).as("sh"))
      .distinct())

  /** The pipeline over a pre-built distinct (doc_id, sh-long) set — the
    * registry path feeds the cached hashed shingles, the arbitrary-docs
    * entry above rebuilds it (spec fixtures). */
  private def prefixFilterPairsFrom(dsh0: DataFrame): DataFrame = {
    val dsh = dsh0
    val dfT = dsh.groupBy("sh").agg(count(lit(1)).as("df"))
    // Prefix construction as ONE hash agg + per-doc array ops (r15):
    // the former row_number() window paid an exchange + a PARTITION-WIDE
    // sort of the whole token relation plus a separate sizes join —
    // the query's dominant stage once the candidate filters landed
    // (sf1 profile: 7.3 s of 10.5). collect_list needs the same single
    // exchange but sorts per DOC (array_sort over ≤ doc-length structs,
    // embarrassingly parallel — the 100 TB shape), nsh rides as
    // size(ts), and slice() IS the ⌊m/2⌋ + 1 prefix bound. Ordering is
    // identical: array_sort on struct(df, sh) compares fields
    // lexicographically, the window's (df, sh) order.
    //
    // r15b: the per-doc SORTED TOKEN ARRAY the prefix already pays for
    // is kept (docs rows, cached) and also serves verification — the
    // former verify path re-shuffled the exploded token relation twice
    // more (doc_a expansion, (doc_b, sh) equi-join) and re-aggregated
    // the intersection rows, plus two final sizes joins. Now the token
    // relation is shuffled ONCE (this groupBy); candidates carry
    // (na, nb) from the prefix rows, and |A∩B| is one codegen'd
    // array_intersect per surviving pair over the two distinct arrays —
    // identical counts, exact integers, same oracle.
    val arr = dsh.join(dfT, Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(expr("transform(array_sort(collect_list(struct(df, sh))), t -> t.sh)")
        .as("sharr"))
      .select(col("doc_id"), col("sharr"), size(col("sharr")).as("nsh"))
      .cache() // prefix + both verify sides read it
    val pref = arr
      .select(col("doc_id"), col("nsh"),
        posexplode(expr("slice(sharr, 1, nsh div 2 + 1)")).as(Seq("p0", "sh")))
      .select(col("doc_id"), col("sh"), col("nsh"), (col("p0") + 1).as("rn"))
    // PPJoin's two candidate-generation filters, both exact integer
    // compares riding columns the prefix rows already carry:
    //  - LENGTH: J ≥ t ⟹ t·|A| ≤ |B| ≤ |A|/t, so at t = 1/2 a pair
    //    with one set more than twice the other's can NEVER verify;
    //  - POSITIONAL: common tokens follow the one global (df, sh)
    //    order, so a match at ranks (ra, rb) bounds the overlap by
    //    ra-onward ∩ rb-onward plus everything before — for the pair's
    //    FIRST common token (which the prefix theorem guarantees sits
    //    inside both prefixes) overlap ≤ 1 + min(na−ra, nb−rb) exactly.
    //    Dropping rows that cannot reach 3·overlap ≥ na+nb is lossless:
    //    a verifying pair's first-common-token row always survives, and
    //    the distinct() needs any one surviving row per pair.
    // Both prune BEFORE verification, shrinking the per-pair intersect
    // work instead of paying it to reject the pair.
    val cand = pref.select(col("doc_id").as("doc_a"), col("sh"),
        col("nsh").as("na"), col("rn").as("ra"))
      .join(pref.select(col("doc_id").as("doc_b"), col("sh"),
        col("nsh").as("nb"), col("rn").as("rb")), Seq("sh"))
      .filter(col("doc_a") < col("doc_b") &&
        col("nb") <= col("na") * 2 && col("na") <= col("nb") * 2 &&
        (lit(1) + least(col("na") - col("ra"), col("nb") - col("rb"))) * 3 >=
          col("na") + col("nb"))
      // na/nb are functions of the doc ids, so carrying them through
      // the distinct adds no rows and saves the two sizes joins
      .select("doc_a", "doc_b", "na", "nb").distinct()
    cand
      .join(arr.select(col("doc_id").as("doc_a"), col("sharr").as("sa")),
        Seq("doc_a"))
      .join(arr.select(col("doc_id").as("doc_b"), col("sharr").as("sb")),
        Seq("doc_b"))
      .withColumn("n_common", size(array_intersect(col("sa"), col("sb")))
        .cast(LongType))
      .filter(col("n_common") * 3 >= col("na") + col("nb"))
      .withColumn("jaccard", col("n_common").cast(DoubleType) /
        (col("na") + col("nb") - col("n_common")).cast(DoubleType))
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("na"),
        col("nb"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private def prefixFilter(s: SparkSession, d: String): DataFrame =
    // cached: the df table and the sorted-array agg both read the
    // distinct set
    prefixFilterPairsFrom(shingleHashes(s, d)
      .select(col("doc_id"), col("shh").as("sh")).distinct().cache())

  // exhaustive uncapped oracle — equality IS the lossless-recall proof
  private val prefixFilterSql =
    s"""$shingleCte,
       |dshh AS (SELECT DISTINCT doc_id,
       |  CAST('0x' || substring(md5(sh), 1, 12) AS BIGINT) AS sh FROM shg),
       |sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM dshh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
       |  FROM dshh a JOIN dshh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY doc_a, doc_b)
       |SELECT doc_a, doc_b, n_common, sa.nsh AS na, sb.nsh AS nb,
       |  CAST(n_common AS DOUBLE) /
       |    CAST(sa.nsh + sb.nsh - n_common AS DOUBLE) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE 3 * n_common >= sa.nsh + sb.nsh
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- Shingle-set Jaccard near-dup pairs (join on shared shingle) ------
  // Stop-shingle removal (doc-frequency cap) keeps the self-join linear in
  // pair count — the standard blocking guard at scale.
  /** The stop-shingle-capped (doc_id, 48-bit shingle hash) set — THE
    * definition of "the document's shingle set" for every Jaccard
    * consumer (exact pairs, clustering, and the ML LSH featurization:
    * measuring ML similarity on UNCAPPED sets while grading against
    * capped exact Jaccard would break the membership bound whenever
    * boilerplate shingles past the cap dilute the ML-side distance).
    * Cached — read up to four times per consumer. */
  private[llm] def cappedShingleSet(s: SparkSession, d: String): DataFrame = {
    // hashed shingles (the shuffle already carries longs)
    val dsh = shingleHashes(s, d)
      .select(col("doc_id"), col("shh").as("sh"))
      .distinct()
      // read twice below (kept probe side + rare build side): cache so the
      // read→distinct chain runs once
      .cache()
    val rare = dsh.groupBy("sh")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= 50)
      .select("sh")
    dsh.join(rare, Seq("sh")).cache()
  }

  /** All-pairs exact shingle-set Jaccard via a join on shared shingles —
    * join key is a 48-bit md5 prefix so the shuffle carries 8-byte longs
    * (same rows in both engines; 2^-48 collision odds mirrored in the
    * oracle); stop-shingle cap bounds the pair count.
    *
    * Storage note: the two `.cache()`s inside [[cappedShingleSet]] live
    * until [[graft.core.Release.storage]] runs — Bench/Verify call it
    * after every query, and a caller composing several registry queries
    * in one session should do the same, or cached copies accumulate
    * (five registry queries route through here). Cross-query memoization
    * was considered and rejected: per-query release would silently strip
    * the memoized DataFrame's caching and every later reuse would
    * recompute uncached, which is worse than honestly rebuilding. */
  private[llm] def jaccardPairs(s: SparkSession, d: String): DataFrame = {
    val kept = cappedShingleSet(s, d)
    val sizes = kept.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
    // r16: pair generation by per-shingle sorted doc arrays instead of
    // the a⋈b self-join — the df cap (≤ 50) bounds every list, the
    // x<y pairs come from one narrow array transform (the Mining
    // basket idiom), and the groupBy(sh) rides the partitioning the
    // cap join already established, so the token relation is shuffled
    // once less and the join build disappears. Counts are identical:
    // each shared shingle contributes exactly one (min, max) pair row.
    val pairs = kept.groupBy(col("sh"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(explode(expr(
        """flatten(transform(ds, (x, i) ->
          |  transform(slice(ds, i + 2, size(ds) - i - 1),
          |    y -> struct(x AS doc_a, y AS doc_b))))""".stripMargin)).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
    pairs
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("nsh").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("nsh").as("nb")), Seq("doc_b"))
      .withColumn("jaccard", col("n_common").cast(DoubleType) /
        (col("na") + col("nb") - col("n_common")).cast(DoubleType))
  }

  private def ngramJaccard(s: SparkSession, d: String): DataFrame =
    jaccardPairs(s, d)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("jaccard"))
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(50)

  private val ngramJaccardSql =
    s"""$jaccardCte
       |SELECT doc_a, doc_b, n_common,
       |  CAST(n_common AS DOUBLE) / CAST(sa.nsh + sb.nsh - n_common AS DOUBLE) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |ORDER BY jaccard DESC, doc_a, doc_b LIMIT 50""".stripMargin

  /** Asymmetric near-containment over the SAME capped shingle sets:
    * containment = |A∩B| / min(|A|,|B|) — high when the smaller document
    * sits (almost) whole inside the larger. Catches the inclusion shapes
    * symmetric Jaccard is blind to: a short document quoted whole inside
    * a long one scores containment ≈ 1 but Jaccard ≈ |B|/|A|, diluted by
    * the long side's extra shingles past any near-dup threshold.
    * Candidates come from the same shared-shingle blocking + stop-shingle
    * cap, so the pair bound is unchanged; both scores are reported and
    * the 0.7 floor keeps the output pair-graph sized. */
  private def containmentPairs(s: SparkSession, d: String): DataFrame =
    jaccardPairs(s, d)
      .withColumn("containment", col("n_common").cast(DoubleType) /
        least(col("na"), col("nb")).cast(DoubleType))
      .filter(col("containment") >= 0.7)
      .withColumn("contained_doc",
        when(col("na") <= col("nb"), col("doc_a")).otherwise(col("doc_b")))
      .select(col("doc_a"), col("doc_b"), col("contained_doc"),
        col("containment").cast(DecimalType(10, 4)).cast(DoubleType).as("containment"),
        col("jaccard").cast(DecimalType(10, 4)).cast(DoubleType).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))

  private val containmentSql =
    s"""$jaccardCte
       |SELECT doc_a, doc_b,
       |  CASE WHEN sa.nsh <= sb.nsh THEN doc_a ELSE doc_b END AS contained_doc,
       |  CAST(CAST(CAST(n_common AS DOUBLE) / LEAST(sa.nsh, sb.nsh)
       |    AS DECIMAL(10,4)) AS DOUBLE) AS containment,
       |  CAST(CAST(CAST(n_common AS DOUBLE) / (sa.nsh + sb.nsh - n_common)
       |    AS DECIMAL(10,4)) AS DOUBLE) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE CAST(n_common AS DOUBLE) / LEAST(sa.nsh, sb.nsh) >= 0.7
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- Embedding-cosine near-dup, blocked on (label, SRP bucket) --------
  // Label alone is quadratic in block size: the label count is FIXED, so a
  // 10x corpus puts 10x vectors in each label and the pair count grows
  // 100x (the sf1 sweep measured exactly that — 25x wall clock). The
  // 4-plane signed-random-projection bucket (16 cells, the same seeded
  // construction ann_lsh_topk blocks with) subdivides every label so the
  // per-cell population — hence the pair count per data volume — scales
  // like the other banded families. Near-identical vectors agree on all 4
  // planes with high probability, so top-50 cosine pairs survive the cut;
  // vectors carrying a NULL element have no meaningful bucket and are
  // dropped by the shared lshInput guard (mirrored in the oracle's x CTE).
  /** `nPlanes` is the scale knob: cells = labels × 2^nPlanes, so a
    * deployment holds per-cell population constant by raising it with
    * log2 of the corpus size. The registry pins 4 for oracle stability. */
  /** Guarded vectors with their (label, SRP-bucket) cell: the shared
    * blocking relation for the embedding near-dup family (pair mining and
    * SemDeDup survivor selection read the same cells). */
  private def srpCells(s: SparkSession, d: String, nPlanes: Int): DataFrame = {
    val e = T.embeddings(s, d).select(col("vec_id"), col("label"),
      transform(col("embedding"), x => x.cast(DoubleType)).as("emb"))
    // zero-norm guard — same rationale and oracle mirror as q31. The nsq
    // filter also drops null-element vectors (dot null-propagates), so
    // the bucket is computed directly on the surviving rows — ONE scan,
    // no separate bucket table to shuffle-join back on vec_id. The dim
    // guard stays loud, as in lshInput.
    e.withColumn("nsq", dot(col("emb"), col("emb")))
      .where(col("nsq") > 0)
      .where(fitsPlaneMatrix(col("emb")))
      .withColumn("bucket",
        graft.functions.LshProject.bucket(col("emb"), lshDirsOf(nPlanes), nPlanes))
  }

  private[llm] def embCosinePairs(s: SparkSession, d: String,
      nPlanes: Int): DataFrame = {
    val n = srpCells(s, d, nPlanes)
    val a = n.select(col("vec_id").as("vec_a"), col("label"), col("bucket"),
      col("emb").as("emb_a"), col("nsq").as("nsq_a"))
    val b = n.select(col("vec_id").as("vec_b"), col("label"), col("bucket"),
      col("emb").as("emb_b"), col("nsq").as("nsq_b"))
    a.join(b, Seq("label", "bucket")).filter(col("vec_a") < col("vec_b"))
      .withColumn("dot", dot(col("emb_a"), col("emb_b")))
      .withColumn("cos", col("dot") / (sqrt(col("nsq_a")) * sqrt(col("nsq_b"))))
      .select(col("vec_a"), col("vec_b"), col("label"),
        col("cos").cast(DecimalType(10, 4)).cast(DoubleType).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_a"), col("vec_b"))
      .limit(50)
  }

  private val embCosinePairsSql =
    s"""WITH x AS (
      |  SELECT vec_id,
      |    CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(20,10)) AS vd,
      |    generate_subscripts(embedding, 1) AS pos
      |  FROM embeddings
      |  WHERE len(list_filter(embedding, v -> v IS NULL)) = 0),
      |proj AS (
      |  SELECT vec_id, p,
      |    SUM(vd * (CASE WHEN substring(md5(concat(p, ':', pos)), 1, 1)
      |          SIMILAR TO '[89a-f]' THEN 1 ELSE -1 END)) AS proj
      |  FROM x CROSS JOIN (SELECT unnest(range(4)) AS p)
      |  GROUP BY vec_id, p),
      |bkt AS (
      |  SELECT vec_id,
      |    CAST(SUM(CASE WHEN proj > 0 THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END)
      |      AS BIGINT) AS bucket
      |  FROM proj GROUP BY vec_id),
      |n AS (
      |  SELECT e.vec_id, label, CAST(embedding AS DOUBLE[]) AS emb,
      |    $guardedNsq AS nsq, b.bucket
      |  FROM embeddings e JOIN bkt b ON e.vec_id = b.vec_id
      |  WHERE $guardedNsq > 0)
      |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
      |  CAST(CAST(list_inner_product(a.emb, b.emb) / (sqrt(a.nsq) * sqrt(b.nsq))
      |    AS DECIMAL(10,4)) AS DOUBLE) AS cos_sim
      |FROM n a JOIN n b ON a.label = b.label AND a.bucket = b.bucket
      |  AND a.vec_id < b.vec_id
      |ORDER BY cos_sim DESC, vec_a, vec_b LIMIT 50""".stripMargin

  // ---- decontaminate_embedding: semantic benchmark decontamination ------
  // decontaminate_ngram catches VERBATIM benchmark leakage (shared
  // 8-grams); paraphrased leakage shares no n-gram but lands next to the
  // benchmark in embedding space — the semantic decontamination pass a
  // training pipeline runs beside the exact one. Benchmark stand-in is
  // the vec_id % 5 == 0 slice (the decontaminate_ngram convention: a
  // real deployment passes a small external eval table, and the
  // candidate join below then BROADCASTS it). Candidates are bounded by
  // the family's (label, SRP-bucket) cells — a corpus vector is only
  // compared against bench vectors in its own cell, the embCosinePairs
  // recall contract (near-identical vectors agree on all planes w.h.p.).
  // Per-vector verdict: bench hits at cos >= 0.35 (the family's pinned
  // threshold), max cosine (DECIMAL(10,4)-rounded then DOUBLE — the
  // cos_sim edge convention; NULL when clean), is_clean. Guarded-out
  // vectors (zero-norm / null-element) surface as clean-with-zero-hits
  // via the left join, mirrored in the oracle.
  private def decontamEmb(s: SparkSession, d: String): DataFrame = {
    val n = srpCells(s, d, nPlanes = 4)
    val bench = n.filter(col("vec_id") % Pipeline.benchMod === 0)
      .select(col("label"), col("bucket"), col("vec_id").as("bench_id"),
        col("emb").as("emb_b"), col("nsq").as("nsq_b"))
    val hits = n.filter(col("vec_id") % Pipeline.benchMod =!= 0)
      .join(bench, Seq("label", "bucket"))
      .withColumn("cos", (dot(col("emb"), col("emb_b")) /
        (sqrt(col("nsq")) * sqrt(col("nsq_b")))).cast(DecimalType(10, 4)))
      .filter(col("cos") >= 0.35)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("nh"), max(col("cos")).as("mx"))
    T.embeddings(s, d).filter(col("vec_id") % Pipeline.benchMod =!= 0)
      .select(col("vec_id"))
      .join(hits, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("nh"), lit(0L)).as("n_hits"),
        col("mx").cast(DoubleType).as("max_cos"),
        (coalesce(col("nh"), lit(0L)) === 0).as("is_clean"))
      .orderBy(col("vec_id"))
  }

  private val decontamEmbSql =
    s"""WITH x AS (
      |  SELECT vec_id,
      |    CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(20,10)) AS vd,
      |    generate_subscripts(embedding, 1) AS pos
      |  FROM embeddings
      |  WHERE len(list_filter(embedding, v -> v IS NULL)) = 0),
      |proj AS (
      |  SELECT vec_id, p,
      |    SUM(vd * (CASE WHEN substring(md5(concat(p, ':', pos)), 1, 1)
      |          SIMILAR TO '[89a-f]' THEN 1 ELSE -1 END)) AS proj
      |  FROM x CROSS JOIN (SELECT unnest(range(4)) AS p)
      |  GROUP BY vec_id, p),
      |bkt AS (
      |  SELECT vec_id,
      |    CAST(SUM(CASE WHEN proj > 0 THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END)
      |      AS BIGINT) AS bucket
      |  FROM proj GROUP BY vec_id),
      |n AS (
      |  SELECT e.vec_id, label, CAST(embedding AS DOUBLE[]) AS emb,
      |    $guardedNsq AS nsq, b.bucket
      |  FROM embeddings e JOIN bkt b ON e.vec_id = b.vec_id
      |  WHERE $guardedNsq > 0),
      |hits AS (
      |  SELECT cv, CAST(COUNT(*) AS BIGINT) AS nh, MAX(cos) AS mx FROM (
      |    SELECT c.vec_id AS cv,
      |      CAST(list_inner_product(c.emb, b.emb) / (sqrt(c.nsq) * sqrt(b.nsq))
      |        AS DECIMAL(10,4)) AS cos
      |    FROM n c JOIN n b ON c.label = b.label AND c.bucket = b.bucket
      |    WHERE b.vec_id % ${Pipeline.benchMod} = 0
      |      AND c.vec_id % ${Pipeline.benchMod} <> 0)
      |  WHERE cos >= 0.35 GROUP BY cv)
      |SELECT e.vec_id, CAST(COALESCE(h.nh, 0) AS BIGINT) AS n_hits,
      |  CAST(h.mx AS DOUBLE) AS max_cos,
      |  COALESCE(h.nh, 0) = 0 AS is_clean
      |FROM embeddings e LEFT JOIN hits h ON e.vec_id = h.cv
      |WHERE e.vec_id % ${Pipeline.benchMod} <> 0
      |ORDER BY e.vec_id""".stripMargin

  // ---- dedup_semdedup: centroid-guided semantic dedup (SemDeDup) --------
  // The SemDeDup recipe (Abbas et al. 2023, arXiv:2303.09540): cluster the
  // embedding space, call within-cluster pairs above a cosine threshold
  // semantic duplicates, and for each duplicate pair KEEP the member
  // farther from the cluster centroid (the paper's finding: the
  // low-centroid-similarity member is the more informative example).
  // Clusters here are the family's deterministic (label, SRP-bucket)
  // cells — the same seeded construction embCosinePairs blocks with —
  // instead of k-means, so the operator is reproducible and
  // oracle-mirrorable; the dup threshold is pinned at 0.35, calibrated to
  // the synthetic corpus whose intra-label cosines top out near 0.47
  // (real deployments with genuinely duplicated embeddings run the same
  // plan at ~0.95).
  //
  // Output is the per-label damage report: vectors considered, cells,
  // dup pairs found, vectors dropped, vectors kept.
  //
  // Determinism: pair cosines are the embCosinePairs construction
  // (raw-double dot, DECIMAL(10,4) at the edge); centroid similarity is
  // exact-integer — q6-quantized components, per-cell component sums in
  // DECIMAL(38,0)/HUGEINT (an int64 would wrap at sf1 populations), so
  // cos(v, centroid) = dotq / (sqrt(vq2)·sqrt(cq2)) is one IEEE division
  // of identical doubles, rounded DECIMAL(10,4) BEFORE the survivor
  // comparison; ties break on vec_id. A vector quantizing to zero norm
  // (or a cell whose sum cancels to zero) gets a null centroid-cos and
  // its pairs are ignored — defined, mirrored, loud in the report.
  //
  // Scale shape: cells bound the pair join exactly as embCosinePairs
  // (population per cell is the knob nPlanes holds constant); the
  // centroid pass is one explode + per-(cell,pos) hash agg + broadcast
  // of cell sums (cells × dims rows, corpus-size-independent) + one
  // per-vector agg — no all-pairs, no driver math.
  private def semDedup(s: SparkSession, d: String): DataFrame = {
    val dec38 = DecimalType(38, 0)
    def q6(c: Column): Column =
      floor(c * lit(1000000.0) + lit(0.5)).cast(LongType)
    val n = srpCells(s, d, nPlanes = 4)
    val comp = n.select(col("vec_id"), col("label"), col("bucket"),
        posexplode(col("emb")).as(Seq("pos", "v0")))
      .select(col("vec_id"), col("label"), col("bucket"), col("pos"),
        q6(col("v0")).as("qv"))
    val cellSum = comp.groupBy(col("label"), col("bucket"), col("pos"))
      .agg(sum(col("qv").cast(dec38)).as("sc"))
    val cellNorm = cellSum.groupBy(col("label"), col("bucket"))
      .agg(sum(col("sc") * col("sc")).cast(dec38).as("cq2"))
    val perVec = comp.join(broadcast(cellSum), Seq("label", "bucket", "pos"))
      .groupBy(col("label"), col("bucket"), col("vec_id"))
      .agg(sum(col("qv").cast(dec38) * col("sc")).cast(dec38).as("dotq"),
        sum((col("qv") * col("qv")).cast(dec38)).as("vq2"))
    val cosc = perVec.join(broadcast(cellNorm), Seq("label", "bucket"))
      .select(col("vec_id"), col("label"), col("bucket"),
        when(col("vq2") > 0 && col("cq2") > 0,
          (col("dotq").cast(DoubleType) /
            (sqrt(col("vq2").cast(DoubleType)) * sqrt(col("cq2").cast(DoubleType))))
            .cast(DecimalType(10, 4))).as("cosc"))
    // r15: centroid-cos attaches to the vectors ONCE before the pair
    // self-join (both sides then carry it for free), and the three
    // per-label aggregations (pair count, distinct-drop count via a
    // separate distinct+join) fold into ONE groupBy over the per-pair
    // rows — same arithmetic, same null handling (a pair with either
    // centroid-cos null counts as a dup pair but never drops — the
    // countDistinct's null-skip is exactly the old isNotNull filter),
    // ~half the exchanges of the former shape, whose cost at bench
    // scale was pure stage scheduling over KB-sized cells.
    // cached: BOTH self-join sides read it — without the cache the
    // whole explode+centroid derivation is cloned into each side
    // (released per query by core.Release.storage, family convention)
    val n2 = n.join(cosc, Seq("label", "bucket", "vec_id")).cache()
    val a = n2.select(col("vec_id").as("vec_a"), col("label"), col("bucket"),
      col("emb").as("emb_a"), col("nsq").as("nsq_a"),
      col("cosc").as("cosc_a"))
    val b = n2.select(col("vec_id").as("vec_b"), col("label"), col("bucket"),
      col("emb").as("emb_b"), col("nsq").as("nsq_b"),
      col("cosc").as("cosc_b"))
    val pairs = a.join(b, Seq("label", "bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", (dot(col("emb_a"), col("emb_b")) /
        (sqrt(col("nsq_a")) * sqrt(col("nsq_b")))).cast(DecimalType(10, 4)))
      .filter(col("cos") >= 0.35)
      // the loser (dropped member) sits CLOSER to the centroid; ties on
      // the rounded decimal break toward the higher vec_id; null when
      // either centroid-cos is undefined (zero-norm cell) — the pair is
      // counted, nothing is dropped
      .select(col("label"),
        when(col("cosc_a").isNotNull && col("cosc_b").isNotNull,
          when(col("cosc_a") > col("cosc_b"), col("vec_a"))
            .otherwise(col("vec_b"))).as("drop_id"))
    // r16: population stats read the CACHED joined relation instead of
    // re-deriving the srp-cell pipeline from the scan — cosc has exactly
    // one row per surviving vector (perVec covers every n row), so n2's
    // (label, bucket) population is n's
    val base = n2.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"), countDistinct(col("bucket")).as("n_cells"))
    val pairAgg = pairs.groupBy(col("label"))
      .agg(count(lit(1)).as("n_dup_pairs"),
        countDistinct(col("drop_id")).as("n_dropped"))
    base.join(pairAgg, Seq("label"), "left")
      .select(col("label"), col("n_vecs"), col("n_cells"),
        coalesce(col("n_dup_pairs"), lit(0L)).as("n_dup_pairs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        (col("n_vecs") - coalesce(col("n_dropped"), lit(0L))).as("n_kept"))
      .orderBy(col("label"))
  }

  private val semDedupSql =
    s"""WITH x AS (
      |  SELECT vec_id,
      |    CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(20,10)) AS vd,
      |    generate_subscripts(embedding, 1) AS pos
      |  FROM embeddings
      |  WHERE len(list_filter(embedding, v -> v IS NULL)) = 0),
      |proj AS (
      |  SELECT vec_id, p,
      |    SUM(vd * (CASE WHEN substring(md5(concat(p, ':', pos)), 1, 1)
      |          SIMILAR TO '[89a-f]' THEN 1 ELSE -1 END)) AS proj
      |  FROM x CROSS JOIN (SELECT unnest(range(4)) AS p)
      |  GROUP BY vec_id, p),
      |bkt AS (
      |  SELECT vec_id,
      |    CAST(SUM(CASE WHEN proj > 0 THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END)
      |      AS BIGINT) AS bucket
      |  FROM proj GROUP BY vec_id),
      |n AS (
      |  SELECT e.vec_id, label, CAST(embedding AS DOUBLE[]) AS emb,
      |    $guardedNsq AS nsq, b.bucket
      |  FROM embeddings e JOIN bkt b ON e.vec_id = b.vec_id
      |  WHERE $guardedNsq > 0),
      |comp AS (
      |  SELECT n.vec_id, label, bucket,
      |    generate_subscripts(emb, 1) AS pos,
      |    CAST(floor(unnest(emb) * 1000000.0 + 0.5) AS BIGINT) AS qv
      |  FROM n),
      |cellsum AS (
      |  SELECT label, bucket, pos, SUM(CAST(qv AS HUGEINT)) AS sc
      |  FROM comp GROUP BY label, bucket, pos),
      |cellnorm AS (
      |  SELECT label, bucket, SUM(sc * sc) AS cq2
      |  FROM cellsum GROUP BY label, bucket),
      |pervec AS (
      |  SELECT comp.label, comp.bucket, vec_id,
      |    SUM(CAST(qv AS HUGEINT) * sc) AS dotq,
      |    SUM(CAST(qv AS HUGEINT) * CAST(qv AS HUGEINT)) AS vq2
      |  FROM comp JOIN cellsum ON comp.label = cellsum.label
      |    AND comp.bucket = cellsum.bucket AND comp.pos = cellsum.pos
      |  GROUP BY comp.label, comp.bucket, vec_id),
      |cosc AS (
      |  SELECT vec_id, pv.label, pv.bucket,
      |    CASE WHEN vq2 > 0 AND cq2 > 0 THEN
      |      CAST(CAST(dotq AS DOUBLE) /
      |        (sqrt(CAST(vq2 AS DOUBLE)) * sqrt(CAST(cq2 AS DOUBLE)))
      |        AS DECIMAL(10,4)) END AS cosc
      |  FROM pervec pv JOIN cellnorm cn
      |    ON pv.label = cn.label AND pv.bucket = cn.bucket),
      |pairs AS (
      |  SELECT a.label, a.bucket, a.vec_id AS vec_a, b.vec_id AS vec_b
      |  FROM n a JOIN n b ON a.label = b.label AND a.bucket = b.bucket
      |    AND a.vec_id < b.vec_id
      |  WHERE CAST(list_inner_product(a.emb, b.emb) /
      |      (sqrt(a.nsq) * sqrt(b.nsq)) AS DECIMAL(10,4)) >= 0.35),
      |judged AS (
      |  SELECT p.label,
      |    CASE WHEN ca.cosc > cb.cosc THEN p.vec_a ELSE p.vec_b END
      |      AS drop_id
      |  FROM pairs p
      |  JOIN cosc ca ON ca.label = p.label AND ca.bucket = p.bucket
      |    AND ca.vec_id = p.vec_a
      |  JOIN cosc cb ON cb.label = p.label AND cb.bucket = p.bucket
      |    AND cb.vec_id = p.vec_b
      |  WHERE ca.cosc IS NOT NULL AND cb.cosc IS NOT NULL),
      |base AS (
      |  SELECT label, COUNT(*) AS n_vecs, COUNT(DISTINCT bucket) AS n_cells
      |  FROM n GROUP BY label),
      |pagg AS (
      |  SELECT label, COUNT(*) AS n_dup_pairs FROM pairs GROUP BY label),
      |dagg AS (
      |  SELECT label, COUNT(*) AS n_dropped
      |  FROM (SELECT DISTINCT label, drop_id FROM judged) GROUP BY label)
      |SELECT base.label AS label, n_vecs, n_cells,
      |  COALESCE(n_dup_pairs, 0) AS n_dup_pairs,
      |  COALESCE(n_dropped, 0) AS n_dropped,
      |  n_vecs - COALESCE(n_dropped, 0) AS n_kept
      |FROM base LEFT JOIN pagg ON base.label = pagg.label
      |LEFT JOIN dagg ON base.label = dagg.label
      |ORDER BY label""".stripMargin

  // ---- Near-dup clustering: converging label propagation ----------------
  // The dedup endgame: connected components over the near-dup pair graph
  // (exact Jaccard >= 0.5) via min-label propagation — each round is one
  // join + one aggregation, the standard distributed CC loop. The loop
  // runs until a round changes ZERO labels (correct at any diameter; the
  // expensive pair pipeline is materialized once up front), which the
  // oracle mirrors with an unbounded UNION-deduped recursive CTE.
  /** Min-label-propagation connected components over an undirected pair
    * list — the CC core [[dedupClusters]] runs on the text dup-graph and
    * `Multimodal` reuses on the image phash-graph. Input: one row per
    * undirected pair (doc_a, doc_b); output: (doc_id, cluster) for every
    * node WITH an edge (callers left-join the full population and default
    * singletons to themselves). */
  private[llm] def ccLabels(pairs: DataFrame): DataFrame = {
    // materialize the pair pipeline ONCE (eager, lineage truncated) — it is
    // re-read every round and must not re-execute the candidate join;
    // Materialize.cut is the reliable checkpoint in cluster mode
    val edges = Materialize.cut(pairs
      .union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .select(col("doc_a").as("src"), col("doc_b").as("dst")))
    // the loop runs on the edge-induced subgraph ONLY: a doc with no
    // near-dup edge keeps its own label forever, so iterating over the
    // full corpus (the previous shape) pays per-round shuffles
    // proportional to corpus size for rows that can never change. At
    // 100 TB the active set is the near-dup fraction — orders of
    // magnitude smaller than the corpus — and the inactive docs join the
    // result with a single anti-join at the end.
    var labels = Materialize.cut(edges.select(col("src").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("cluster")))
    var changed = 1L
    var rounds = 0
    // min-label propagation needs up to DIAMETER rounds (it is not
    // pointer-doubling); 64 is a runaway valve that must FAIL, not
    // silently return unconverged labels the oracle would reject
    while (changed > 0 && rounds < 64) {
      rounds += 1
      val fromNbr = edges
        .join(labels.select(col("doc_id").as("dst"), col("cluster")), Seq("dst"))
        .select(col("src").as("doc_id"), col("cluster"))
      // one round = neighbor-min, then pointer-jump (label := label's
      // label): the jump contracts paths so convergence needs
      // O(log diameter) rounds instead of O(diameter) — each round here
      // is fixed job overhead on a tiny active set, so halving rounds
      // matters more than halving rows
      val propagated = labels.union(fromNbr)
        .groupBy(col("doc_id")).agg(min(col("cluster")).as("cluster"))
      val next = Materialize.cut(propagated
        .join(propagated.select(col("doc_id").as("cluster"),
          col("cluster").as("root")), Seq("cluster"))
        .select(col("doc_id"), col("root").as("cluster")))
      changed = next
        .join(labels.select(col("doc_id"), col("cluster").as("prev")), Seq("doc_id"))
        .filter(col("cluster") =!= col("prev"))
        .count()
      labels = next
    }
    if (changed > 0) throw new IllegalStateException(
      s"label propagation did not converge in $rounds rounds — component " +
        "diameter exceeds the cap; raise it or switch to pointer-doubling")
    System.err.println(s"[graft] label propagation converged in $rounds rounds")
    labels
  }

  /** The converged ≥ 0.5 cluster labels (doc_id, cluster) that
    * `dedup_clusters` and `dedup_keep_best` both start from. */
  private[graft] def clusterLabels(s: SparkSession, d: String): DataFrame =
    // cached: ccLabels unions both orientations of the inline pair set
    // before its lineage cut (in-plan; released per query)
    ccLabels(jaccardPairs(s, d).filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b")).cache())

  private def dedupClusters(s: SparkSession, d: String): DataFrame = {
    val docs = T.documents(s, d).select(col("doc_id"))
    docs.join(clusterLabels(s, d), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"))
      .withColumn("is_canonical", col("doc_id") === col("cluster"))
      .orderBy(col("doc_id"))
  }

  // ---- keep-best: quality-ranked survivor per dup cluster ---------------
  // The curation endgame on top of the components: inside each near-dup
  // cluster keep the HIGHEST-text_quality member (min doc_id on exact
  // score ties), not the arbitrary min-id canonical — the rule real
  // pipelines apply (drop the worse-written copies). Scores are the
  // text_quality doubles, computed by the identical expression in both
  // engines, so the argmax compares bit-identical values; the tie-break
  // is exact-integer. Scale shape: the clusters loop as dedup_clusters,
  // plus one quality join and two cluster-keyed aggregations — all on
  // the doc-count-sized relation, never the corpus text.
  private def keepBest(s: SparkSession, d: String): DataFrame = {
    val cl = dedupClusters(s, d).select(col("doc_id"), col("cluster"))
    val q = TextStats.quality(s, d).select(col("doc_id"), col("score"))
    val scored = cl.join(q, Seq("doc_id"))
    val best = scored.groupBy(col("cluster")).agg(max(col("score")).as("best"))
    val keepId = scored.join(best, Seq("cluster"))
      .filter(col("score") === col("best"))
      .groupBy(col("cluster")).agg(min(col("doc_id")).as("keep_id"))
    scored.join(keepId, Seq("cluster"))
      .select(col("doc_id"), col("cluster"), col("score"),
        (col("doc_id") === col("keep_id")).as("keep"))
      .orderBy(col("doc_id"))
  }

  private val keepBestSql =
    s"""${jaccardCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |cprs AS (
       |  SELECT doc_a, doc_b FROM inter
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b
       |  WHERE CAST(n_common AS DOUBLE) / CAST(sa.nsh + sb.nsh - n_common AS DOUBLE) >= 0.5),
       |cedges AS (SELECT doc_a AS src, doc_b AS dst FROM cprs
       |           UNION ALL SELECT doc_b, doc_a FROM cprs),
       |reach AS (
       |  SELECT doc_id, doc_id AS lbl FROM documents
       |  UNION
       |  SELECT e.src AS doc_id, r.lbl
       |  FROM cedges e JOIN reach r ON e.dst = r.doc_id),
       |cl AS (SELECT doc_id, MIN(lbl) AS cluster FROM reach GROUP BY doc_id),
       |qw AS (
       |  SELECT doc_id, word FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |    FROM documents) WHERE word <> ''),
       |qa AS (
       |  SELECT doc_id, COUNT(*) AS n_words,
       |    CAST(SUM(CASE WHEN word IN ('the','a','of','and','is') THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
       |  FROM qw GROUP BY doc_id),
       |sc AS MATERIALIZED (
       |  SELECT cl.doc_id, cl.cluster,
       |    CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE) * 0.5 +
       |      CAST(least(n_words, 100) AS DOUBLE) / 200.0 AS score
       |  FROM cl JOIN qa ON qa.doc_id = cl.doc_id),
       |best AS (SELECT cluster, MAX(score) AS best FROM sc GROUP BY cluster),
       |keepid AS (
       |  SELECT sc.cluster, MIN(sc.doc_id) AS keep_id
       |  FROM sc JOIN best ON best.cluster = sc.cluster AND sc.score = best.best
       |  GROUP BY sc.cluster)
       |SELECT sc.doc_id, sc.cluster, sc.score, sc.doc_id = k.keep_id AS keep
       |FROM sc JOIN keepid k ON k.cluster = sc.cluster
       |ORDER BY sc.doc_id""".stripMargin

  private val dedupClustersSql =
    s"""${jaccardCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |pairs AS (
       |  SELECT doc_a, doc_b FROM inter
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b
       |  WHERE CAST(n_common AS DOUBLE) / CAST(sa.nsh + sb.nsh - n_common AS DOUBLE) >= 0.5),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach AS (
       |  SELECT doc_id, doc_id AS lbl FROM documents
       |  UNION
       |  SELECT e.src AS doc_id, r.lbl
       |  FROM edges e JOIN reach r ON e.dst = r.doc_id)
       |SELECT doc_id, MIN(lbl) AS cluster, doc_id = MIN(lbl) AS is_canonical
       |FROM reach GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- Signed-random-projection LSH buckets (8 planes, seeded) ----------
  // Plane direction per (plane, dim) is md5-derived ±1; the projection sum
  // runs in exact decimals so the sign — hence the bucket — is portable.
  //
  // The ±1 matrix is a CONSTANT (8 × dim), so it is computed once on the
  // driver with the same md5 formula the oracle SQL evaluates, and the 8
  // projections fold per row with decimal HOFs. The earlier shape —
  // posexplode × 8 planes, md5 per exploded row, two shuffled aggregations
  // (~1M rows and 1M md5 calls at sf0.1 for 2000 vectors) — recomputed
  // that constant per row and shuffled the blow-up; this is a shuffle-free
  // narrow map until the final presentation sort, and at 100 TB it scans
  // embeddings exactly once with no intermediate explosion.
  /** Widest embedding the precomputed plane matrix supports — covers the
    * realistic model range (768/1024/1536/4096); the matrix is 8×4096
    * ints (128 KB), one lazy driver-side computation, shipped to
    * executors once as a codegen reference object. */
  private[llm] val MaxEmbeddingDim = 4096

  /** Plane matrix at any plane count (same md5 construction row by row,
    * so the first 8 rows are IDENTICAL to the graded [[lshDirs]] — a
    * deployment raising planes with its corpus never re-buckets the
    * prefix planes). Driver-side only, memoized: the SRP scaling rule is
    * planes ≈ log2(corpus / target cell size), so a 100 TB corpus wants
    * 20+ planes where the fixtures pin 4-8 — `SrpScaleSpec` proves the
    * rule at 10× the fixture's vector count. */
  private[llm] def lshDirsOf(planes: Int): Seq[Seq[Int]] =
    lshDirsMemo.getOrElseUpdate(planes, {
      val md = java.security.MessageDigest.getInstance("MD5")
      Seq.tabulate(planes) { p =>
        Seq.tabulate(MaxEmbeddingDim) { pos0 => // sliced to size(vec) per row
          val h = md.digest(s"$p:${pos0 + 1}".getBytes("UTF-8"))
          if ((h(0) & 0x80) != 0) 1 else -1 // first hex char ∈ [89a-f]
        }
      }
    })

  private val lshDirsMemo =
    scala.collection.concurrent.TrieMap.empty[Int, Seq[Seq[Int]]]

  private[llm] lazy val lshDirs: Seq[Seq[Int]] = lshDirsOf(8)

  /** Bucket from the first `nPlanes` rows of [[lshDirs]]: bit p =
    * sign(Σ dec(v_i)·dir_pi), computed by the fused codegen'd
    * [[graft.functions.LshProject]] expression (the interpreted
    * `aggregate(zip_with(...))` DECIMAL fold it replaced cost ~1.7 ms/row
    * outside whole-stage codegen; values are bit-identical). */
  private[llm] def lshBucket(nPlanes: Int): org.apache.spark.sql.Column =
    graft.functions.LshProject.bucket(col("embedding"), lshDirsOf(nPlanes), nPlanes)

  /** Embeddings with the shared guards: empty vectors dropped (posexplode
    * did that; so does the oracle's unnest), vectors carrying a NULL
    * element dropped (LshProject zero-short-circuits on them while the
    * oracle's SUM would SKIP the null term — a silent per-row divergence;
    * a corrupt vector has no meaningful bucket anyway), and dims beyond
    * the precomputed plane matrix REJECTED loudly — silently slicing them
    * off would zero every projection and collapse all buckets. */
  /** Loud dim guard shared by lshInput and the single-scan cosine path:
    * TRUE (well, non-null) only while the vector fits the precomputed
    * plane matrix — one definition so the bound and message can't
    * diverge between the two call sites. */
  private def fitsPlaneMatrix(v: Column): Column =
    assert_true(size(v) <= MaxEmbeddingDim,
      lit(s"embedding dim exceeds the $MaxEmbeddingDim-dim LSH plane matrix")).isNull

  private[llm] def lshInput(s: SparkSession, d: String): DataFrame =
    T.embeddings(s, d)
      .where(size(col("embedding")) > 0)
      .where(!exists(col("embedding"), _.isNull))
      .where(fitsPlaneMatrix(col("embedding")))

  private def lshBuckets(s: SparkSession, d: String): DataFrame =
    lshInput(s, d)
      .select(col("vec_id"), lshBucket(8).as("bucket"))
      .orderBy(col("vec_id"))

  private val lshBucketsSql =
    """WITH x AS (
      |  SELECT vec_id,
      |    CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(20,10)) AS vd,
      |    generate_subscripts(embedding, 1) AS pos
      |  FROM embeddings
      |  -- mirror of lshInput's null-element drop (SUM would skip the
      |  -- null term; the engine's projection short-circuits instead)
      |  WHERE len(list_filter(embedding, v -> v IS NULL)) = 0),
      |proj AS (
      |  SELECT vec_id, p,
      |    SUM(vd * (CASE WHEN substring(md5(concat(p, ':', pos)), 1, 1)
      |          SIMILAR TO '[89a-f]' THEN 1 ELSE -1 END)) AS proj
      |  FROM x CROSS JOIN (SELECT unnest(range(8)) AS p)
      |  GROUP BY vec_id, p)
      |SELECT vec_id,
      |  CAST(SUM(CASE WHEN proj > 0 THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END)
      |    AS BIGINT) AS bucket
      |FROM proj GROUP BY vec_id ORDER BY vec_id""".stripMargin

  // ---- Sparse lexical cosine re-rank of simhash candidates --------------
  // The bag-of-words counterpart of the dense embedding cosine: exact
  // term-frequency cosine between the documents of each banded-simhash
  // candidate pair (the same bounded set text_edit_distance re-ranks —
  // never all-pairs). The dot product only touches SHARED words: the
  // candidate list joins each side's (doc, word-hash, tf) table co-keyed
  // on the 48-bit word hash, so per-pair cost is O(doc length), and the
  // whole tf table shuffles once on doc_id. Determinism: dot and squared
  // norms are exact BIGINT sums; sqrt is IEEE-correctly-rounded; the final
  // cosine is one pinned multiply + divide → bit-identical both engines.
  private def tfCosine(s: SparkSession, d: String): DataFrame = {
    // the corpus (doc_id, h48(word), count) relation, cached because
    // three consumers read it (both dot sides + norms),
    // released per query by core.Release.storage like every cache in
    // this family
    val tf = TextStats.corpusTermFreqs(s, d)
      .select(col("doc_id"), col("wh").as("wh2"), col("c"))
      .cache()
    val nrm = tf.groupBy(col("doc_id"))
      .agg(sqrt(sum(col("c") * col("c")).cast(DoubleType)).as("nn"))
    // the banded candidate list is FORCE-broadcast into the tf table
    // when it is provably small (AQE re-deciding this join's build side
    // was the round-12 driver-side outlier class; PlanSpec pins the
    // shape at graded scale). `dots` (one row per candidate pair) is
    // bounded by the same ceiling, so the same gate lets it broadcast
    // into the doc-sized norm table.
    // Past the bound — pair count grows with the corpus — the hints
    // drop and the joins shuffle.
    // gate input: the PROVABLE pair ceiling docs·bands·cap/2 from one
    // column-less parquet count (row-group metadata speed) — no need to
    // materialize the pair set just to size it, so the pair pipeline
    // runs exactly once, fused into the dot join (its only consumer)
    val nDocs = T.documents(s, d).count()
    val bcOk = nDocs * 4L * 50L / 2L <= MaxPairsBroadcastRows
    def bc(df: DataFrame): DataFrame = if (bcOk) broadcast(df) else df
    val dots = bc(simhashPairs(s, d)
        .select(col("doc_a"), col("doc_b")))
      .join(tf.select(col("doc_id").as("doc_a"), col("wh2"), col("c").as("ca")),
        Seq("doc_a"))
      .join(tf.select(col("doc_id").as("doc_b"), col("wh2"), col("c").as("cb")),
        Seq("doc_b", "wh2"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("ca") * col("cb")).cast(LongType).as("dot"))
    bc(bc(dots)
        .join(nrm.select(col("doc_id").as("doc_a"), col("nn").as("na")),
          Seq("doc_a")))
      .join(nrm.select(col("doc_id").as("doc_b"), col("nn").as("nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("dot"),
        (col("dot").cast(DoubleType) / (col("na") * col("nb"))).as("cos_tf"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val tfCosineSql =
    s"""$simhashPairsCte,
       |spairs AS (SELECT doc_a, doc_b FROM pairs
       |           WHERE bit_count(xor(sig_a, sig_b)) <= 5),
       |tf AS (SELECT doc_id,
       |         CAST('0x'||substring(md5(word),1,12) AS BIGINT) AS wh2,
       |         COUNT(*) AS c
       |       FROM (SELECT doc_id, unnest(string_split(text,' ')) AS word
       |             FROM documents)
       |       WHERE word <> '' GROUP BY doc_id, wh2),
       |nrm AS (SELECT doc_id, sqrt(CAST(SUM(c*c) AS DOUBLE)) AS nn
       |        FROM tf GROUP BY doc_id),
       |dots AS (SELECT p.doc_a, p.doc_b, CAST(SUM(a.c * b.c) AS BIGINT) AS dot
       |         FROM spairs p JOIN tf a ON a.doc_id = p.doc_a
       |                       JOIN tf b ON b.doc_id = p.doc_b AND b.wh2 = a.wh2
       |         GROUP BY p.doc_a, p.doc_b)
       |SELECT d.doc_a, d.doc_b, dot,
       |  CAST(dot AS DOUBLE) / (na.nn * nb.nn) AS cos_tf
       |FROM dots d JOIN nrm na ON na.doc_id = d.doc_a
       |            JOIN nrm nb ON nb.doc_id = d.doc_b
       |ORDER BY doc_a, doc_b""".stripMargin

  override val defs: Seq[(String, QueryDef)] = Seq(
    "q30_fingerprint_dedup" -> QueryDef(q30, Some(q30Sql)),
    "dedup_tf_cosine"       -> QueryDef(tfCosine, Some(tfCosineSql)),
    "dedup_canonical" -> QueryDef(dedupCanonical, Some(dedupCanonicalSql)),
    "q30b_shingle_stats"    -> QueryDef(q30b, Some(q30bSql)),
    "q31_cosine_topk"       -> QueryDef(q31, Some(q31Sql)),
    "dedup_minhash_sig"     -> QueryDef(minhashSig, Some(minhashSigSql)),
    "dedup_minhash_pairs"   -> QueryDef(minhashPairs, Some(minhashPairsSql)),
    "dedup_simhash"         -> QueryDef(simhash, Some(simhashSql)),
    "dedup_simhash_pairs"   -> QueryDef(simhashPairsGraded, Some(simhashPairsSql)),
    "dedup_ngram_jaccard"   -> QueryDef(ngramJaccard, Some(ngramJaccardSql)),
    "dedup_prefix_filter"   -> QueryDef(prefixFilter, Some(prefixFilterSql)),
    "dedup_cdc_chunks"      -> QueryDef(cdcDupChunks, Some(cdcDupChunksSql)),
    "dedup_lsh_recall"      -> QueryDef(lshRecall, Some(lshRecallSql)),
    "ann_mips_topk"         -> QueryDef(mipsTopk, Some(mipsTopkSql)),
    "text_dup_coverage"     -> QueryDef(dupCoverage, Some(dupCoverageSql)),
    "dedup_containment"     -> QueryDef(containmentPairs, Some(containmentSql)),
    "dedup_embedding_cosine" -> QueryDef(embCosinePairs(_, _, nPlanes = 4), Some(embCosinePairsSql)),
    "dedup_semdedup"        -> QueryDef(semDedup, Some(semDedupSql)),
    "decontaminate_embedding" -> QueryDef(decontamEmb, Some(decontamEmbSql)),
    "dedup_clusters"        -> QueryDef(dedupClusters, Some(dedupClustersSql)),
    "dedup_keep_best"       -> QueryDef(keepBest, Some(keepBestSql)),
    "ann_lsh_buckets"       -> QueryDef(lshBuckets, Some(lshBucketsSql)),
  )
}
