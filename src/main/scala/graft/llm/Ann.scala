package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

import graft.core.{QueryDef, QueryGroup, Tables => T}
import graft.functions.DotProduct.dot

/** Approximate-nearest-neighbor scale paths (SURVEY.md extension list):
  * the brute-force q31 is the ground truth; these trade recall for a
  * candidate set that stays bounded at 100 TB.
  *
  *  - LSH: probe and candidates meet only inside a shared
  *    random-projection bucket. The plane count is a knob
  *    ([[buckets]]/[[multiProbeQ]]): the registry's topk/multiprobe/
  *    hard-negative queries pin `planes=4` (16 buckets — oracle
  *    stability), `ann_lsh_buckets` shows the 8-plane/256-bucket
  *    projection, and `AnnRecallSpec` grades recall at planes=8. The
  *    join key is the bucket, so cost is Σ bucket² not n²; more planes
  *    shrink each inverted list as the corpus grows, multi-probe
  *    (Hamming-1 bucket flips) buys the recall back.
  *  - IVF: coarse quantizer = deterministic k-means (init = the k lowest
  *    surviving vec_ids, parameterized k/iters); probes scan only the
  *    `nprobe` nearest centroids' inverted lists.
  *
  * Both are deterministic end-to-end (seeded planes, exact-decimal
  * projections and centroid means) and ORACLE-GRADED: the LSH pipeline and
  * the fixed 2-iteration Lloyd loop are both replayed in DuckDB SQL.
  * `AnnRecallSpec` additionally grades recall vs the q31 ground truth —
  * keep any change deterministic or BOTH gates break.
  */
object Ann extends QueryGroup {

  private[llm] def normed(s: SparkSession, d: String): DataFrame =
    normedOf(T.embeddings(s, d))

  /** The same normalization over an ALREADY-LOADED embeddings relation —
    * the entry point streaming ingest ([[graft.streaming.StreamIvf]])
    * uses on a micro-batch, so the batch path cannot drift from the
    * table path. */
  private[graft] def normedOf(embs: DataFrame): DataFrame =
    embs
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("emb"))
      .withColumn("nsq", dot(col("emb"), col("emb")))
      // zero-norm (incl. empty) vectors have no cosine — excluded here
      // and in both ANN oracles; ANSI would throw DIVIDE_BY_ZERO
      .where(col("nsq") > 0)

  /** Bucket per vector from `planes` seeded hyperplanes (2^planes
    * buckets; the registry pins planes=4 → 16 buckets, ~30 candidates per
    * probe at sf0.01). Same md5-derived ±1 construction as
    * Dedup.lshBuckets (shared precomputed matrix + fused codegen'd
    * projection — shuffle-free). Fewer planes trade candidate-set size
    * for recall; a real corpus raises `planes` with its size so each
    * inverted list stays bounded (`AnnRecallSpec` gates planes=8). */
  private[llm] def buckets(s: SparkSession, d: String,
      planes: Int = 4): DataFrame =
    Dedup.lshInput(s, d)
      .select(col("vec_id"), Dedup.lshBucket(planes).as("bucket"))

  /** Exact cosine re-rank shared by every ANN surface: candidates
    * (vec_id, emb, nsq + the join key) meet the broadcast probe set
    * (q_id, q_emb, q_nsq + key) on `key`; top-5 by cosine survive, ties
    * to the lower vec_id, output rounded through DECIMAL(10,4). ONE
    * definition — the tie-break and rounding are oracle-parity-critical
    * and must not drift between the LSH, multi-probe, and IVF paths
    * (the SQL twin is [[lshTopkTail]]). */
  private[llm] def rerank(candidates: DataFrame, probes: DataFrame,
      key: String, keep: Column = lit(true)): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    candidates.join(broadcast(probes), Seq(key))
      .filter(col("q_id") =!= col("vec_id") && keep)
      .withColumn("dot", dot(col("q_emb"), col("emb")))
      .withColumn("cos", col("dot") / (sqrt(col("q_nsq")) * sqrt(col("nsq"))))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        col("cos").cast(DecimalType(10, 4)).cast(DoubleType).as("cos_sim"),
        col("rn"))
      .orderBy(col("q_id"), col("rn"))
  }

  /** ANN top-5 via LSH bucketing at any plane count: probes 0..4,
    * candidates = same bucket (or the Hamming-1 flip set when
    * `multiProbe`), exact cosine re-rank inside the candidate buckets.
    * The registry surfaces pin planes=4; the spec-only planes=8 path is
    * the same code with a different knob, so recall gates grade exactly
    * what a production index would run. */
  private[llm] def lshTopkAt(s: SparkSession, d: String, planes: Int,
      multiProbe: Boolean): DataFrame = {
    val n = normed(s, d).join(buckets(s, d, planes), Seq("vec_id"))
    val q =
      if (multiProbe) multiProbeQ(n, withLabel = false, planes)
      else n.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
          col("nsq").as("q_nsq"), col("bucket"))
    rerank(n, q, "bucket")
  }

  /** Registry surface: single-bucket LSH top-5 at the pinned planes=4. */
  private def lshTopk(s: SparkSession, d: String): DataFrame =
    lshTopkAt(s, d, planes = 4, multiProbe = false)

  // ---- retrieval_mmr: Maximal Marginal Relevance diversification ---------
  // The result-diversification re-ranker (Carbonell & Goldstein 1998)
  // between retrieval and the context window: from each probe's top-10
  // relevance pool, greedily pick 5 where pick r maximizes
  // λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s), λ = 0.7 — near-dup
  // hits crowd each other out, the property no pure-relevance top-k has.
  //
  // Determinism: rel and every pairwise sim round through DECIMAL(10,4)
  // (the family cosine rule) BEFORE the greedy arithmetic, so both
  // engines iterate on identical doubles; the score is then one fixed
  // IEEE chain (0.7·rel − 0.3·maxsim — literal 0.3, never 1−0.7, whose
  // IEEE value differs in the last ulp), ties to the lower neighbor_id.
  // The OUTPUT score rounds through DECIMAL(10,5), not (10,4): with
  // 4-decimal rel/maxsim and 1-decimal weights the true score has
  // exactly 5 decimals, so a (10,4) cast sits mathematically ON the
  // .00005 half-way boundary whenever the 5th decimal is 5 — where
  // Java's HALF_UP over the exact binary expansion and DuckDB's
  // scaled-double ties-to-even legitimately disagree (bit us at 2/25
  // rows). At scale 5 the cast recovers the exact value in both
  // engines and no boundary exists.
  //
  // Scale shape: the pool is rank-bounded (≤ |probes|·10 rows), the pair
  // table ≤ |probes|·10·9 rows — nothing downstream of the one
  // brute-force scoring pass (the declared q31 small-scale convention;
  // at real scale the pool comes from the ANN index instead, same
  // bounded shape) touches corpus-sized data. The greedy itself runs
  // per-probe inside ONE `flatMapGroups` over ≤ MmrPool candidates —
  // one shuffle keyed by probe, O(pool²·k) arithmetic in memory per
  // group, arbitrary probe count. (A first cut drove the k rounds from
  // the driver as k DataFrame jobs: same answer, 4 extra job waves of
  // pure overhead for data this shape guarantees is tiny.)
  private[llm] val MmrPool = 10
  private[llm] val MmrK = 5

  private def mmr(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val n = normed(s, d)
    val probes = n.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("nsq").as("q_nsq"))
    val wp = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    val pool = graft.core.Materialize.cut(
      n.crossJoin(broadcast(probes))
        .filter(col("q_id") =!= col("vec_id"))
        .withColumn("cos", dot(col("q_emb"), col("emb")) /
          (sqrt(col("q_nsq")) * sqrt(col("nsq"))))
        .withColumn("rn", row_number().over(wp))
        .filter(col("rn") <= MmrPool)
        .select(col("q_id"), col("vec_id"),
          col("cos").cast(DecimalType(10, 4)).cast(DoubleType).as("rel")))
    val pm = pool.join(n.select(col("vec_id"), col("emb"), col("nsq")),
      Seq("vec_id"))
    // per-candidate sims to the REST of its probe's pool, carried as an
    // array so each probe group arrives as ≤ MmrPool rows
    val sims = pm.as("a").join(pm.as("b"),
        col("a.q_id") === col("b.q_id") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.q_id").as("sq"), col("a.vec_id").as("c"),
        col("b.vec_id").as("sv"),
        (dot(col("a.emb"), col("b.emb")) /
          (sqrt(col("a.nsq")) * sqrt(col("b.nsq"))))
          .cast(DecimalType(10, 4)).cast(DoubleType).as("sim"))
      .groupBy(col("sq"), col("c"))
      .agg(collect_list(struct(col("sv").as("_1"), col("sim").as("_2")))
        .as("sims"))
    // left join: a 1-candidate pool has no pairs but still selects
    val picked = pool
      .join(sims, pool("q_id") === sims("sq") && pool("vec_id") === sims("c"),
        "left")
      .select(pool("q_id"), pool("vec_id"), col("rel"), col("sims"))
      .as[(Long, Long, Double, Option[Seq[(Long, Double)]])]
      .groupByKey(_._1)
      .flatMapGroups { (q: Long, it: Iterator[(Long, Long, Double, Option[Seq[(Long, Double)]])]) =>
        val cands = it.toArray
        val sim = new scala.collection.mutable.HashMap[(Long, Long), Double]
        cands.foreach { c =>
          c._4.getOrElse(Nil).foreach { case (sv, v) => sim((c._2, sv)) = v }
        }
        val sel = scala.collection.mutable.ArrayBuffer.empty[Long]
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Long, Double, Double)]
        while (sel.size < MmrK && sel.size < cands.length) {
          var bestId = -1L; var bestRel = 0.0; var bestScore = 0.0
          cands.foreach { c =>
            if (!sel.contains(c._2)) {
              // identical IEEE chain to the oracle's 0.7*rel - 0.3*maxsim
              val score =
                if (sel.isEmpty) 0.7 * c._3
                else 0.7 * c._3 - 0.3 * sel.map(sv => sim((c._2, sv))).max
              if (bestId < 0 || score > bestScore ||
                  (score == bestScore && c._2 < bestId)) {
                bestId = c._2; bestRel = c._3; bestScore = score
              }
            }
          }
          sel += bestId
          out += ((q, bestId, sel.size.toLong, bestRel, bestScore))
        }
        out.iterator
      }
      .toDF("q_id", "neighbor_id", "mmr_rank", "rel", "score")
    picked
      .select(col("q_id"), col("neighbor_id"), col("mmr_rank"), col("rel"),
        col("score").cast(DecimalType(10, 5)).cast(DoubleType).as("mmr_score"))
      .orderBy(col("q_id"), col("mmr_rank"))
  }

  /** One unrolled greedy stage of the MMR oracle: sel$r = picks so far,
    * c$r = remaining candidates with their max sim to any pick, s$r =
    * this round's argmax. */
  private def mmrStageSql(r: Int): String = {
    val selUnion = (1 until r).map(i =>
      s"SELECT q_id, neighbor_id FROM s$i").mkString(" UNION ALL ")
    s"""sel$r AS ($selUnion),
       |c$r AS (
       |  SELECT p.q_id, p.neighbor_id, p.rel, MAX(pr.sim) AS maxsim
       |  FROM pool p
       |  JOIN pr ON pr.q_id = p.q_id AND pr.c = p.neighbor_id
       |  JOIN sel$r sel ON sel.q_id = pr.q_id AND sel.neighbor_id = pr.sv
       |  WHERE NOT EXISTS (SELECT 1 FROM sel$r x
       |    WHERE x.q_id = p.q_id AND x.neighbor_id = p.neighbor_id)
       |  GROUP BY p.q_id, p.neighbor_id, p.rel),
       |s$r AS (
       |  SELECT q_id, neighbor_id, rel, score FROM (
       |    SELECT q_id, neighbor_id, rel,
       |      0.7 * rel - 0.3 * maxsim AS score,
       |      ROW_NUMBER() OVER (PARTITION BY q_id
       |        ORDER BY 0.7 * rel - 0.3 * maxsim DESC, neighbor_id) AS rn
       |    FROM c$r) WHERE rn = 1)""".stripMargin
  }

  /** DuckDB replay of [[mmr]]: identical brute-force top-[[MmrPool]]
    * pool and DECIMAL(10,4) pre-rounding, then [[MmrK]] − 1 unrolled
    * greedy stages (the emb_top_pc staged-CTE precedent). */
  private val mmrSql: String =
    s"""WITH n AS (
       |  SELECT e.vec_id, CAST(embedding AS DOUBLE[]) AS emb,
       |    ${Dedup.guardedNsq} AS nsq
       |  FROM embeddings e
       |  WHERE ${Dedup.guardedNsq} > 0),
       |p0 AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
       |    list_inner_product(q.emb, c.emb) / (sqrt(q.nsq) * sqrt(c.nsq)) AS cos
       |  FROM n q JOIN n c ON q.vec_id < 5 AND q.vec_id <> c.vec_id),
       |pool AS MATERIALIZED (
       |  SELECT q_id, neighbor_id,
       |    CAST(CAST(cos AS DECIMAL(10,4)) AS DOUBLE) AS rel
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |          ORDER BY cos DESC, neighbor_id) AS rn FROM p0)
       |  WHERE rn <= $MmrPool),
       |pm AS (
       |  SELECT pool.q_id, pool.neighbor_id, pool.rel, n.emb, n.nsq
       |  FROM pool JOIN n ON n.vec_id = pool.neighbor_id),
       |pr AS MATERIALIZED (
       |  SELECT a.q_id, a.neighbor_id AS c, b.neighbor_id AS sv,
       |    CAST(CAST(list_inner_product(a.emb, b.emb) /
       |      (sqrt(a.nsq) * sqrt(b.nsq)) AS DECIMAL(10,4)) AS DOUBLE) AS sim
       |  FROM pm a JOIN pm b
       |    ON a.q_id = b.q_id AND a.neighbor_id <> b.neighbor_id),
       |s1 AS (
       |  SELECT q_id, neighbor_id, rel, 0.7 * rel AS score
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |          ORDER BY rel DESC, neighbor_id) AS rn FROM pool)
       |  WHERE rn = 1),
       |${(2 to MmrK).map(mmrStageSql).mkString(",\n")}
       |SELECT q_id, neighbor_id, CAST(k AS BIGINT) AS mmr_rank, rel,
       |  CAST(CAST(score AS DECIMAL(10,5)) AS DOUBLE) AS mmr_score
       |FROM (${(1 to MmrK).map(i =>
             s"SELECT q_id, neighbor_id, rel, score, $i AS k FROM s$i")
             .mkString("\n      UNION ALL ")})
       |ORDER BY q_id, mmr_rank""".stripMargin

  // ---- retrieval_eval_ndcg: MRR / nDCG@5 grading of the ANN path ---------
  // The retrieval-quality scorecard: grade the production candidate path
  // (ann_lsh_topk's bucketed top-5) against brute-force cosine truth, per
  // probe — reciprocal rank of the first true neighbor, DCG@5 over the
  // hits, and nDCG against the ideal ranking. This is the recall gate
  // AnnRecallSpec enforces, promoted to an oracle-graded relation with
  // rank-position-aware credit (recall treats rank 1 and rank 5 alike;
  // nDCG does not).
  //
  // Determinism: rank gains 1/r and 1/log2(r+1) are IRRATIONAL, and
  // summing them as doubles is addition-order-dependent — the one thing
  // the family rules ban. So the 5 gains live in a literal lookup table
  // (exact DECIMAL(12,8) constants, identical text in both engines),
  // sums run in exact decimal, and the ONLY floating-point steps are the
  // final casts and one IEEE division by the ideal DCG constant.
  //
  // Scale shape: the system side is the ann_lsh_topk plan unchanged; the
  // truth side is the declared small-scale brute-force ground truth (the
  // q31 convention — at real scale you grade against a slower
  // higher-recall configuration instead, same relation shape). Both
  // arrive top-5-bounded, so everything downstream is ≤ 5·|probes| rows;
  // the 5-row gains table broadcasts.
  private def evalNdcg(s: SparkSession, d: String): DataFrame = {
    val gains = {
      import s.implicits._
      Seq((1L, "1.00000000", "1.00000000"),
          (2L, "0.50000000", "0.63092975"),
          (3L, "0.33333333", "0.50000000"),
          (4L, "0.25000000", "0.43067656"),
          (5L, "0.20000000", "0.38685281"))
        .toDF("rn", "rr0", "gain0")
        .select(col("rn"), col("rr0").cast(DecimalType(12, 8)).as("rr"),
          col("gain0").cast(DecimalType(12, 8)).as("gain"))
    }
    // idcg@5 = the gain column's sum — kept as a literal so the division
    // is one engine-identical IEEE op, not a cross-row double sum
    val idcg5 = 2.94845912
    val n = normed(s, d).withColumn("ck", lit(1))
    val probes = n.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("nsq").as("q_nsq"), col("ck"))
    val truth = rerank(n, probes, "ck").select(col("q_id"), col("neighbor_id"))
    val sys = lshTopkAt(s, d, planes = 4, multiProbe = false)
      .select(col("q_id"), col("neighbor_id"), col("rn"))
    val per = sys.join(truth, Seq("q_id", "neighbor_id"))
      .join(broadcast(gains), Seq("rn"))
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_hits"), max(col("rr")).as("rrm"),
        sum(col("gain")).as("dcgd"))
    probes.select(col("q_id"))
      .join(per, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("rrm").cast(DoubleType), lit(0.0)).as("rr"),
        coalesce(col("dcgd").cast(DoubleType), lit(0.0)).as("dcg"),
        (coalesce(col("dcgd").cast(DoubleType), lit(0.0)) / lit(idcg5))
          .as("ndcg"))
      .orderBy(col("q_id"))
  }

  /** IVF ANN: coarse quantizer = deterministic k-means (init = the `k`
    * lowest vec_ids, `iters` Lloyd rounds). Each iteration is a
    * distributed narrow aggregation; only the k×dim centroid table
    * (tiny) touches the driver and is re-broadcast — the classic
    * scalable Lloyd loop. Probes scan the `nprobe` nearest centroids'
    * inverted lists. The registry query pins k=8/iters=2/nprobe=1 for
    * oracle stability (measured recall@5 vs q31 is ~0.88 on the
    * structureless fixture embeddings); real index builds call this
    * directly with model-sized parameters — `AnnRecallSpec` grades
    * k=32/nprobe=2 on the dim-1024 fixture. */
  private[llm] def ivf(s: SparkSession, d: String, k: Int, iters: Int,
      nprobe: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= k,
      s"ivf: need 1 <= nprobe <= k; got k=$k nprobe=$nprobe")
    val (lists, cdf) = ivfModel(s, d, k, iters)
    val probes = lists.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("nsq").as("q_nsq"))
    rerank(lists, probeCells(probes, cdf, nprobe), "ck")
  }

  /** The guarded vector-vs-centroid cosine, against a joined centroid
    * row's (cvec, c_nsq) columns. ONE definition for every consumer
    * ([[assignCells]], [[probeCells]], `IvfIndex.quality`) so the
    * staleness yardstick can never drift from the argmax rule.
    * c_nsq > 0 guard: initial centroids are nonzero by construction, but
    * a Lloyd UPDATE whose members cancel exactly yields a zero centroid —
    * unguarded, 0/0 = NaN sorts HIGHEST in Spark's struct ordering and
    * the dead centroid would win every argmax (DuckDB's NULL quietly
    * ranks last; the null here matches it). */
  private[llm] def centroidCosine(emb: Column, nsq: Column): Column =
    when(col("c_nsq") > 0,
      dot(emb, col("cvec")) / (sqrt(nsq) * sqrt(col("c_nsq"))))

  /** Nearest-centroid assignment — THE argmax rule of the whole IVF
    * family (Lloyd iterations, final lists, and [[IvfIndex.assign]]'s
    * out-of-sample path all route through here so they cannot diverge).
    * Argmax via ordered-struct max: no window sort, one hash aggregate. */
  private[graft] def assignCells(n: DataFrame, cdf: DataFrame): DataFrame =
    n.crossJoin(broadcast(cdf))
      .withColumn("c_cos", centroidCosine(col("emb"), col("nsq")))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("c_cos"), (-col("ck")).as("nck"))).as("m"))
      .select(col("vec_id"), (-col("m.nck")).cast("int").as("ck"))

  /** Probe cells: the nprobe nearest centroids per probe (cosine, ties to
    * the lower ck — the same rule as assign); at nprobe=1 this IS the
    * probe's own cell. The (probe × nprobe) fan-out stays constant-size,
    * so the broadcast stays provably tiny. Shared with the persisted-index
    * search path ([[IvfIndex]]). */
  private[llm] def probeCells(probes: DataFrame, cdf: DataFrame,
      nprobe: Int): DataFrame = {
    val wc = Window.partitionBy(col("q_id"))
      .orderBy(col("c_cos").desc, col("ck"))
    probes.crossJoin(broadcast(cdf))
      .withColumn("c_cos", centroidCosine(col("q_emb"), col("q_nsq")))
      .withColumn("crn", row_number().over(wc))
      .filter(col("crn") <= nprobe)
      .select(col("q_id"), col("q_emb"), col("q_nsq"), col("ck"))
  }

  /** Deterministic IVF model shared by the top-k probe path and the
    * cluster-balanced sampler: the final inverted lists (vec_id, emb,
    * nsq, ck) plus the centroid table (ck, cvec, c_nsq). One distributed
    * Lloyd loop; only the k×dim centroid table touches the driver. */
  private[graft] def ivfModel(s: SparkSession, d: String, k: Int,
      iters: Int): (DataFrame, DataFrame) = {
    import s.implicits._
    require(k >= 1 && iters >= 0,
      s"ivfModel: need k >= 1, iters >= 0; got k=$k iters=$iters")
    val n = normed(s, d).cache()

    def centDf(cents: Seq[(Int, Seq[Double])]): DataFrame =
      cents.toDF("ck", "cvec")
        .withColumn("c_nsq", dot(col("cvec"), col("cvec")))

    def assign(cdf: DataFrame): DataFrame = assignCells(n, cdf)

    // init = the k lowest SURVIVING vec_ids, renumbered 0..k-1 in vec_id
    // order — the oracle's c0 CTE replays exactly this (rank + limit),
    // so a dropped zero-norm id or sparse ids cannot desync the two
    var cents: Seq[(Int, Seq[Double])] =
      n.orderBy(col("vec_id")).limit(k)
        .select(col("emb")).collect().toSeq
        .zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](0)) }
    (1 to iters).foreach { _ =>
      val assigned = assign(centDf(cents))
      val updated = assigned.join(n, Seq("vec_id"))
        .select(col("ck"), posexplode(col("emb")).as(Seq("pos", "v")))
        .groupBy(col("ck"), col("pos"))
        // exact-decimal mean (Tables.avgExact shape): the decimal sum is
        // order-independent, so the centroids — hence the whole fixed
        // 2-iteration Lloyd loop — are deterministic and oracle-replayable
        .agg((sum(col("v").cast(DecimalType(20, 10))).cast(DoubleType) /
          count(lit(1))).as("c"))
        .groupBy(col("ck"))
        .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("ps"))
        .select(col("ck"), transform(col("ps"), p => p.getField("c")).as("cvec"))
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq
      // empty cells keep their previous centroid
      val byCk = updated.toMap
      cents = cents.map { case (k, c) => (k, byCk.getOrElse(k, c)) }
    }

    val cdf = centDf(cents)
    (n.join(assign(cdf), Seq("vec_id")), cdf)
  }

  /** Registry surface: the oracle-pinned parameterization. */
  private def ivfTopk(s: SparkSession, d: String): DataFrame =
    ivf(s, d, k = 8, iters = 2, nprobe = 1)

  // ---- Product quantization (PQ) + asymmetric distance (ADC) ------------
  // The memory-compression half of a production ANN stack (Jégou et al.,
  // "Product Quantization for Nearest Neighbor Search"): each vector is
  // stored as `nsub` small codebook ids instead of `dim` floats — at
  // dim=64/m=4/ksub=8 that is 64·4 bytes → 4·1 bytes (64×), which is what
  // lets a 100 TB corpus's index live in executor memory. Search is
  // ASYMMETRIC: the query stays exact, and per subspace a LUT of
  // (query-subvector · centroid) terms — |probes|·nsub·ksub rows,
  // constant-size, broadcast — turns each candidate's distance into nsub
  // lookups + an exact-decimal sum. IVF prunes candidates; PQ shrinks
  // them: [[ivfPq]] composes both.

  /** Deterministic PQ model. The subspace grid is data-driven —
    * `dsub = max(1, dim/m)` over the max surviving-vector length — so a
    * corpus narrower than `m` dims degrades to scalar quantization
    * instead of crashing (the EdgeCaseSpec fixture is dim-2). Per
    * subspace the codebook is the same deterministic k-means as
    * [[ivfModel]] (init = the ksub lowest surviving vec_ids' sub-vectors,
    * exact-decimal centroid means, argmin-L2 ties to the lower code), but
    * run over ALL subspaces at once with `s` as a grouping key — one
    * distributed job per Lloyd round, not one per subspace. Only the
    * nsub×ksub×dsub codebook (constant-size) touches the driver.
    * Returns (codes (vec_id, s, ck), codebook (s, ck, cvec, c_nsq),
    * dsub, nsub). */
  private[llm] def pqModel(s: SparkSession, d: String, m: Int,
      ksub: Int, iters: Int): (DataFrame, DataFrame, Int, Int) = {
    import s.implicits._
    require(m >= 1 && ksub >= 1 && iters >= 0,
      s"pqModel: need m >= 1, ksub >= 1, iters >= 0; got m=$m ksub=$ksub iters=$iters")
    val n = normed(s, d).cache()
    val dimRow = n.agg(max(size(col("emb")))).collect()(0)
    val dim = if (dimRow.isNullAt(0)) 0 else dimRow.getInt(0)
    val dsub = math.max(1, dim / m)
    val nsub = if (dim == 0) 1 else (dim + dsub - 1) / dsub
    val subIdx = array((0 until nsub).map(i => lit(i)): _*)
    val sv = n
      .select(col("vec_id"), col("emb"), explode(subIdx).as("s"))
      .select(col("vec_id"), col("s"),
        slice(col("emb"), col("s") * lit(dsub) + 1, lit(dsub)).as("xs"))

    def centDf(cs: Seq[(Int, Int, Seq[Double])]): DataFrame =
      cs.toDF("s", "ck", "cvec")
        .withColumn("c_nsq", dot(col("cvec"), col("cvec")))

    // argmin L2 per (vec, subspace): the x² term is constant per row, so
    // maximizing 2·<x,c> − c² is the same ordering — argmax via
    // ordered-struct max (the assignCells shape), ties to the lower code
    def encode(cdf: DataFrame): DataFrame =
      sv.join(broadcast(cdf), Seq("s"))
        .withColumn("score", lit(2.0) * dot(col("xs"), col("cvec")) - col("c_nsq"))
        .groupBy(col("vec_id"), col("s"))
        .agg(max(struct(col("score"), (-col("ck")).as("nck"))).as("m"))
        .select(col("vec_id"), col("s"), (-col("m.nck")).cast("int").as("ck"))

    var cents: Seq[(Int, Int, Seq[Double])] =
      n.orderBy(col("vec_id")).limit(ksub)
        .select(col("emb")).collect().toSeq.zipWithIndex.flatMap {
          case (r, i) =>
            val full = r.getSeq[Double](0)
            (0 until nsub).map { ss =>
              (ss, i, full.slice(ss * dsub, math.min((ss + 1) * dsub, full.size)))
            }
        }
    (1 to iters).foreach { _ =>
      val updated = encode(centDf(cents)).join(sv, Seq("vec_id", "s"))
        .select(col("s"), col("ck"), posexplode(col("xs")).as(Seq("pos", "v")))
        .groupBy(col("s"), col("ck"), col("pos"))
        // exact-decimal mean: order-independent, so the whole loop is
        // deterministic and oracle-replayable (the ivfModel rule)
        .agg((sum(col("v").cast(DecimalType(20, 10))).cast(DoubleType) /
          count(lit(1))).as("c"))
        .groupBy(col("s"), col("ck"))
        .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("ps"))
        .select(col("s"), col("ck"), transform(col("ps"), p => p.getField("c")).as("cvec"))
        .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2))).toMap
      // empty codes keep their previous centroid
      cents = cents.map { case (ss, ck, c) => (ss, ck, updated.getOrElse((ss, ck), c)) }
    }
    val cdf = centDf(cents)
    (encode(cdf), cdf, dsub, nsub)
  }

  /** ADC top-k, norm-augmented cosine variant: exact query sub-vectors
    * meet every candidate's CODES — approx <q, x> = Σ_s <q_s, c_code(x,s)>
    * — and the EXACT stored norms supply the denominator, so the ranking
    * metric is the same cosine the whole ANN family (and the q31 ground
    * truth) uses. Plain L2-ADC would rank by a metric the rest of the
    * stack does not search under (measured recall 0 vs the cosine truth
    * on the clustered corpus — magnitude noise dominates direction).
    * The per-(probe, candidate) dot is an exact DECIMAL(20,10) fold of
    * once-rounded LUT terms, so ranking is order-free and cross-engine
    * stable; ties break on the neighbor id. The scan is LINEAR over the
    * codes (nsub lookups per candidate — PQ compresses, it does not
    * prune; [[ivfPq]] adds the pruning) but touches ~64× fewer bytes
    * than the exact q31 scan. */
  private[llm] def pqAdc(s: SparkSession, d: String, m: Int = 4,
      ksub: Int = 8, iters: Int = 1, topk: Int = 5): DataFrame = {
    val (codes, cdf, dsub, nsub) = pqModel(s, d, m, ksub, iters)
    adcRank(normed(s, d), codes, cdf, dsub, nsub, topk)
  }

  /** The ADC scoring tail shared by [[pqAdc]] and [[ivfPq]]:
    * `keepPairs` (q_id, vec_id) restricts the scored candidates PER
    * PROBE for the IVF-pruned path — a union-of-cells filter would let
    * probe A score probe B's cell members, which is not the IVF
    * contract. */
  private def adcRank(n: DataFrame, codes: DataFrame, cdf: DataFrame,
      dsub: Int, nsub: Int, topk: Int,
      keepPairs: Option[DataFrame] = None): DataFrame = {
    val subIdx = array((0 until nsub).map(i => lit(i)): _*)
    val lut = n.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("nsq").as("q_nsq"),
        col("emb"), explode(subIdx).as("s"))
      .select(col("q_id"), col("q_nsq"), col("s"),
        slice(col("emb"), col("s") * lit(dsub) + 1, lit(dsub)).as("qs"))
      .join(broadcast(cdf), Seq("s"))
      .withColumn("term", dot(col("qs"), col("cvec")))
      .select(col("q_id"), col("q_nsq"), col("s"), col("ck"), col("term"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adc_cos").desc, col("vec_id"))
    keepPairs.foldLeft(
      codes.join(broadcast(lut), Seq("s", "ck"))
        .filter(col("vec_id") =!= col("q_id")))(
      // no broadcast hint: a cell is corpus/k rows — AQE broadcasts the
      // pair table only while it actually fits
      (c, keep) => c.join(keep, Seq("q_id", "vec_id"), "left_semi"))
      .groupBy(col("q_id"), col("q_nsq"), col("vec_id"))
      .agg(sum(col("term").cast(DecimalType(20, 10))).as("adc_dot"))
      // exact stored norm for the candidate: the index keeps one double
      // per vector beside its codes — norm-augmented PQ
      .join(n.select(col("vec_id"), col("nsq")), Seq("vec_id"))
      .withColumn("adc_cos", col("adc_dot").cast(DoubleType) /
        (sqrt(col("q_nsq")) * sqrt(col("nsq"))))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= topk)
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        col("adc_cos").cast(DecimalType(10, 4)).cast(DoubleType).as("adc_cos"),
        col("rn"))
      .orderBy(col("q_id"), col("rn"))
  }

  /** IVF×PQ composition — the production layout: the coarse quantizer
    * prunes candidates to the probes' nprobe cells, then ADC ranks only
    * those cells' CODES. Spec-graded ([[graft.llm]] PqSpec asserts it
    * equals [[pqAdc]] restricted to the same cells, and recall is gated
    * in AnnRecallSpec); the registry's oracle query is the un-pruned
    * [[pqAdc]], whose one-iteration SQL replay stays tractable. */
  private[llm] def ivfPq(s: SparkSession, d: String, k: Int = 8,
      kmIters: Int = 2, nprobe: Int = 1, m: Int = 4, ksub: Int = 8,
      pqIters: Int = 1, topk: Int = 5): DataFrame = {
    val (lists, ivfCdf) = ivfModel(s, d, k, kmIters)
    val probes = lists.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("nsq").as("q_nsq"))
    // PER-PROBE candidate pairs: each probe meets only its own nprobe
    // cells' members (the IVF contract) — constant-size probe-cell table
    // joined against the inverted lists
    val pairs = probeCells(probes, ivfCdf, nprobe)
      .select(col("q_id"), col("ck"))
      .join(lists.select(col("vec_id"), col("ck")), Seq("ck"))
      .select(col("q_id"), col("vec_id"))
    val (codes, cdf, dsub, nsub) = pqModel(s, d, m, ksub, pqIters)
    adcRank(normed(s, d), codes, cdf, dsub, nsub, topk, Some(pairs))
  }

  private def pqAdcTopk(s: SparkSession, d: String): DataFrame =
    pqAdc(s, d)

  /** Multi-probe probe set: each probe row fans out to its own bucket
    * plus the `planes` Hamming-1 flips (one sign flip per plane — at the
    * registry's planes=4 the SQL twin is [[multiProbePSql]]'s
    * `[0,1,2,4,8]` XOR masks; change both together). Candidates carry
    * exactly one bucket each and the probe buckets are distinct, so no
    * (probe, candidate) pair repeats and the downstream join needs no
    * dedup. */
  private def multiProbeQ(n: DataFrame, withLabel: Boolean,
      planes: Int = 4): DataFrame = {
    val flips = array((lit(0L) +: (0 until planes).map(p => lit(1L << p))): _*)
    val keep = Seq(col("q_id"), col("q_emb"), col("q_nsq")) ++
      (if (withLabel) Seq(col("label").as("q_label")) else Nil)
    n.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("nsq").as("q_nsq"), col("label"), col("bucket"))
      .withColumn("flip", explode(flips))
      .select(keep :+ col("bucket").bitwiseXOR(col("flip")).as("bucket"): _*)
  }

  /** Multi-probe LSH: the classic recall knob that needs NO extra tables
    * or planes. `AnnRecallSpec` asserts recall ≥ the single-bucket
    * `ann_lsh_topk`. */
  private def lshMultiprobe(s: SparkSession, d: String): DataFrame =
    lshTopkAt(s, d, planes = 4, multiProbe = true)

  /** Hard-negative mining for contrastive training: per probe, the top-5
    * most-similar vectors carrying a DIFFERENT label — the lookalikes a
    * metric-learning objective gains the most from. Same multi-probe
    * bucket set, cross-label predicate before the re-rank window.
    * NULL-label rows never pair (<> is null-rejecting in both engines,
    * mirrored in the oracle). */
  private def hardNegatives(s: SparkSession, d: String): DataFrame = {
    val n = normed(s, d).join(buckets(s, d), Seq("vec_id"))
    rerank(n, multiProbeQ(n, withLabel = true), "bucket",
      keep = col("label") =!= col("q_label"))
  }

  /** Cluster-balanced diversity sample: assign every vector to its IVF
    * cell, then take a fixed per-cell quota in salted-hash order — the
    * curation move that keeps a corpus's TAIL clusters represented
    * instead of letting head clusters dominate a uniform sample. Hash
    * order (not vec_id order) so the draw is unbiased w.r.t. ingestion
    * order yet fully deterministic for the oracle. At 100 TB the cell
    * count k grows with the corpus, so the per-cell window parallelizes
    * with the data; the rank ≤ quota filter is a WindowGroupLimit (no
    * full sort per cell). */
  private def clusterDiverse(s: SparkSession, d: String): DataFrame = {
    val (lists, _) = ivfModel(s, d, k = 8, iters = 2)
    val w = Window.partitionBy(col("ck")).orderBy(col("skey"), col("vec_id"))
    lists
      .withColumn("skey", Dedup.h48(concat(lit("divsamp:"),
        col("vec_id").cast(StringType))))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 25)
      .select(col("vec_id"), col("ck"), col("rank"))
      .orderBy(col("ck"), col("rank"))
  }

  /** The full LSH pipeline is deterministic (seeded md5 planes,
    * exact-decimal projections, cosine rounded through DECIMAL(10,4)), so
    * unlike most ANN implementations it is oracle-expressible end-to-end:
    * the same 4-plane bucketing + in-bucket exact re-rank in DuckDB.
    * CTE chain shared by the single-bucket and multi-probe oracles. */
  private val lshCtes =
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
      |  SELECT e.vec_id, e.label, CAST(embedding AS DOUBLE[]) AS emb,
      |    ${Dedup.guardedNsq} AS nsq,
      |    b.bucket
      |  FROM embeddings e JOIN bkt b ON e.vec_id = b.vec_id
      |  WHERE ${Dedup.guardedNsq} > 0)""".stripMargin

  private val lshTopkTail =
    """SELECT q_id, neighbor_id,
      |  CAST(CAST(cos AS DECIMAL(10,4)) AS DOUBLE) AS cos_sim, rn
      |FROM (SELECT *, CAST(ROW_NUMBER() OVER (
      |        PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rn
      |      FROM p)
      |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin

  private val lshTopkSql =
    s"""$lshCtes,
      |p AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
      |    list_inner_product(q.emb, c.emb) / (sqrt(q.nsq) * sqrt(c.nsq)) AS cos
      |  FROM n q JOIN n c ON q.vec_id < 5 AND q.bucket = c.bucket
      |    AND q.vec_id <> c.vec_id)
      |$lshTopkTail""".stripMargin

  /** Multi-probe pair CTE shared by the plain and hard-negative oracles:
    * each probe meets candidates in its own bucket OR any Hamming-1 flip
    * of it — the `[0,1,2,4,8]` XOR masks mirror [[multiProbeQ]]'s
    * `flips` array (change both together). */
  private def multiProbePSql(extraPred: String): String =
    s"""p AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
      |    list_inner_product(q.emb, c.emb) / (sqrt(q.nsq) * sqrt(c.nsq)) AS cos
      |  FROM n q
      |  CROSS JOIN (SELECT unnest([0, 1, 2, 4, 8]) AS f) fl
      |  JOIN n c ON q.vec_id < 5 AND xor(q.bucket, CAST(f AS BIGINT)) = c.bucket
      |    AND q.vec_id <> c.vec_id$extraPred)""".stripMargin

  private val evalNdcgSql =
    s"""$lshCtes,
      |sys AS (
      |  SELECT q_id, neighbor_id, rn FROM (
      |    SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
      |      CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      |        list_inner_product(q.emb, c.emb) / (sqrt(q.nsq) * sqrt(c.nsq))
      |          DESC, c.vec_id) AS BIGINT) AS rn
      |    FROM n q JOIN n c ON q.vec_id < 5 AND q.bucket = c.bucket
      |      AND q.vec_id <> c.vec_id)
      |  WHERE rn <= 5),
      |tr AS (
      |  SELECT q_id, neighbor_id FROM (
      |    SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      |        list_inner_product(q.emb, c.emb) / (sqrt(q.nsq) * sqrt(c.nsq))
      |          DESC, c.vec_id) AS rn
      |    FROM n q JOIN n c ON q.vec_id < 5 AND q.vec_id <> c.vec_id)
      |  WHERE rn <= 5),
      |gains(rn, rr, gain) AS (VALUES
      |  (CAST(1 AS BIGINT), CAST('1.00000000' AS DECIMAL(12,8)),
      |   CAST('1.00000000' AS DECIMAL(12,8))),
      |  (2, CAST('0.50000000' AS DECIMAL(12,8)),
      |   CAST('0.63092975' AS DECIMAL(12,8))),
      |  (3, CAST('0.33333333' AS DECIMAL(12,8)),
      |   CAST('0.50000000' AS DECIMAL(12,8))),
      |  (4, CAST('0.25000000' AS DECIMAL(12,8)),
      |   CAST('0.43067656' AS DECIMAL(12,8))),
      |  (5, CAST('0.20000000' AS DECIMAL(12,8)),
      |   CAST('0.38685281' AS DECIMAL(12,8)))),
      |per AS (
      |  SELECT sys.q_id, COUNT(*) AS n_hits, MAX(rr) AS rrm,
      |    SUM(gain) AS dcgd
      |  FROM sys JOIN tr USING (q_id, neighbor_id)
      |  JOIN gains ON sys.rn = gains.rn
      |  GROUP BY sys.q_id)
      |SELECT p.q_id AS q_id,
      |  COALESCE(n_hits, 0) AS n_hits,
      |  COALESCE(CAST(rrm AS DOUBLE), 0.0) AS rr,
      |  COALESCE(CAST(dcgd AS DOUBLE), 0.0) AS dcg,
      |  COALESCE(CAST(dcgd AS DOUBLE), 0.0) / 2.94845912 AS ndcg
      |FROM (SELECT DISTINCT q_id FROM tr) p
      |LEFT JOIN per USING (q_id) ORDER BY q_id""".stripMargin

  private val lshMultiprobeSql =
    s"$lshCtes,\n${multiProbePSql("")}\n$lshTopkTail"

  private val hardNegativesSql =
    s"$lshCtes,\n${multiProbePSql(" AND q.label <> c.label")}\n$lshTopkTail"

  /** The fixed 2-iteration Lloyd loop IS SQL-expressible once centroid
    * means are exact-decimal (order-independent): init = the 8 lowest
    * surviving vec_ids renumbered 0..7 (the engine's rule), two
    * assign+update rounds (argmax cosine, ties to the lower centroid id —
    * same `max(struct(cos, -ck))` rule as the engine), empty cells keep
    * the previous centroid, then probe the final inverted lists. */
  private val ivfAssignCtes =
    s"""WITH x AS (
      |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
      |         generate_subscripts(embedding, 1) AS pos
      |  FROM embeddings
      |  WHERE len(list_filter(embedding, v -> v IS NULL)) = 0),
      |n AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
      |    ${Dedup.guardedNsq} AS nsq
      |  FROM embeddings
      |  WHERE ${Dedup.guardedNsq} > 0),
      |c0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS ck,
      |         emb AS cvec
      |       FROM (SELECT vec_id, emb FROM n ORDER BY vec_id LIMIT 8)),
      |a1 AS (
      |  SELECT vec_id, ck FROM (
      |    SELECT n.vec_id, c.ck,
      |      ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
      |        list_inner_product(n.emb, c.cvec) /
      |          (sqrt(n.nsq) * sqrt(list_inner_product(c.cvec, c.cvec))) DESC,
      |        c.ck) AS rn
      |    FROM n CROSS JOIN c0 c) WHERE rn = 1),
      |u1 AS (
      |  SELECT a.ck, x.pos,
      |    CAST(SUM(CAST(x.v AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*) AS c
      |  FROM a1 a JOIN x ON a.vec_id = x.vec_id GROUP BY a.ck, x.pos),
      |c1 AS (
      |  SELECT c0.ck, COALESCE(u.cvec, c0.cvec) AS cvec
      |  FROM c0 LEFT JOIN (SELECT ck, list(c ORDER BY pos) AS cvec
      |                     FROM u1 GROUP BY ck) u USING (ck)),
      |a2 AS (
      |  SELECT vec_id, ck FROM (
      |    SELECT n.vec_id, c.ck,
      |      ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
      |        list_inner_product(n.emb, c.cvec) /
      |          (sqrt(n.nsq) * sqrt(list_inner_product(c.cvec, c.cvec))) DESC,
      |        c.ck) AS rn
      |    FROM n CROSS JOIN c1 c) WHERE rn = 1),
      |u2 AS (
      |  SELECT a.ck, x.pos,
      |    CAST(SUM(CAST(x.v AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*) AS c
      |  FROM a2 a JOIN x ON a.vec_id = x.vec_id GROUP BY a.ck, x.pos),
      |c2 AS (
      |  SELECT c1.ck, COALESCE(u.cvec, c1.cvec) AS cvec
      |  FROM c1 LEFT JOIN (SELECT ck, list(c ORDER BY pos) AS cvec
      |                     FROM u2 GROUP BY ck) u USING (ck)),
      |a3 AS (
      |  SELECT vec_id, ck FROM (
      |    SELECT n.vec_id, c.ck,
      |      ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
      |        list_inner_product(n.emb, c.cvec) /
      |          (sqrt(n.nsq) * sqrt(list_inner_product(c.cvec, c.cvec))) DESC,
      |        c.ck) AS rn
      |    FROM n CROSS JOIN c2 c) WHERE rn = 1),
      |lst AS (SELECT n.vec_id, n.emb, n.nsq, a3.ck FROM n JOIN a3 USING (vec_id))""".stripMargin

  private val ivfTopkSql =
    s"""$ivfAssignCtes,
      |pr AS (SELECT vec_id AS q_id, emb AS q_emb, nsq AS q_nsq, ck
      |       FROM lst WHERE vec_id < 5),
      |p AS (
      |  SELECT pr.q_id, c.vec_id AS neighbor_id,
      |    list_inner_product(pr.q_emb, c.emb) /
      |      (sqrt(pr.q_nsq) * sqrt(c.nsq)) AS cos
      |  FROM lst c JOIN pr ON c.ck = pr.ck AND pr.q_id <> c.vec_id)
      |$lshTopkTail""".stripMargin

  /** The one-iteration PQ build + ADC replay: the data-driven subspace
    * grid (`dsub = max(1, dim/4)` — mirrors [[pqModel]]'s rule exactly,
    * including the dim-2 degenerate degradation), init = the 8 lowest
    * surviving vec_ids' sub-vectors renumbered per subspace, one
    * assign+update Lloyd round with exact-decimal means, argmin-L2 codes
    * (ties to the lower code id — the `c² − 2·<x,c>` ordering, constant
    * x² dropped on both sides), then the LUT join, the exact
    * DECIMAL(20,10) approximate-dot sum, and the norm-augmented cosine
    * rank. */
  /** The PQ chain from the subspace grid through the probe LUT —
    * expects `n` and `x` CTEs already defined (both the standalone
    * `ann_pq_adc` and the composed `ann_ivfpq_topk` share the exact
    * definitions from [[ivfAssignCtes]]). Aliases are pq-prefixed where
    * they would collide with the IVF chain's. */
  private val pqChainCtes =
    """dm AS (SELECT GREATEST(1, CAST(MAX(len(emb)) AS BIGINT) // 4) AS dsub
      |       FROM n),
      |sv AS (SELECT x.vec_id, CAST((x.pos - 1) // dm.dsub AS INT) AS s,
      |         list(x.v ORDER BY x.pos) AS xs
      |       FROM x JOIN n USING (vec_id) CROSS JOIN dm
      |       GROUP BY x.vec_id, CAST((x.pos - 1) // dm.dsub AS INT)),
      |ini AS (SELECT vec_id FROM n ORDER BY vec_id LIMIT 8),
      |pc0 AS (SELECT s,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY s ORDER BY vec_id) - 1
      |           AS INT) AS ck,
      |         xs AS cvec
      |       FROM sv JOIN ini USING (vec_id)),
      |pa1 AS (SELECT vec_id, s, ck FROM (
      |    SELECT sv.vec_id, sv.s, c.ck,
      |      ROW_NUMBER() OVER (PARTITION BY sv.vec_id, sv.s ORDER BY
      |        list_inner_product(c.cvec, c.cvec)
      |          - 2 * list_inner_product(sv.xs, c.cvec) ASC,
      |        c.ck) AS rn
      |    FROM sv JOIN pc0 c USING (s)) WHERE rn = 1),
      |pu1 AS (SELECT a.s, a.ck, x.pos,
      |    CAST(SUM(CAST(x.v AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*) AS c
      |  FROM pa1 a JOIN x ON a.vec_id = x.vec_id CROSS JOIN dm
      |  WHERE CAST((x.pos - 1) // dm.dsub AS INT) = a.s
      |  GROUP BY a.s, a.ck, x.pos),
      |pc1 AS (SELECT pc0.s, pc0.ck, COALESCE(u.cvec, pc0.cvec) AS cvec
      |  FROM pc0 LEFT JOIN (SELECT s, ck, list(c ORDER BY pos) AS cvec
      |                     FROM pu1 GROUP BY s, ck) u USING (s, ck)),
      |enc AS (SELECT vec_id, s, ck FROM (
      |    SELECT sv.vec_id, sv.s, c.ck,
      |      ROW_NUMBER() OVER (PARTITION BY sv.vec_id, sv.s ORDER BY
      |        list_inner_product(c.cvec, c.cvec)
      |          - 2 * list_inner_product(sv.xs, c.cvec) ASC,
      |        c.ck) AS rn
      |    FROM sv JOIN pc1 c USING (s)) WHERE rn = 1),
      |lut AS (SELECT sv.vec_id AS q_id, sv.s, c.ck,
      |    list_inner_product(sv.xs, c.cvec) AS term
      |  FROM sv JOIN pc1 c USING (s) WHERE sv.vec_id < 5)""".stripMargin

  /** The norm-augmented ADC rank tail shared by both PQ oracles; `adcp`
    * must provide (q_id, vec_id, adc_dot). */
  private val adcTailSql =
    """qn AS (SELECT vec_id AS q_id, nsq AS q_nsq FROM n WHERE vec_id < 5)
      |SELECT q_id, neighbor_id, adc_cos, rn FROM (
      |  SELECT a.q_id, a.vec_id AS neighbor_id,
      |    CAST(CAST(CAST(a.adc_dot AS DOUBLE) / (sqrt(q.q_nsq) * sqrt(c.nsq))
      |      AS DECIMAL(10,4)) AS DOUBLE) AS adc_cos,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY a.q_id
      |      ORDER BY CAST(a.adc_dot AS DOUBLE) / (sqrt(q.q_nsq) * sqrt(c.nsq))
      |        DESC, a.vec_id) AS BIGINT) AS rn
      |  FROM adcp a JOIN qn q USING (q_id)
      |  JOIN n c ON a.vec_id = c.vec_id)
      |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin

  private val pqAdcSql =
    s"""WITH n AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
      |    ${Dedup.guardedNsq} AS nsq
      |  FROM embeddings
      |  WHERE ${Dedup.guardedNsq} > 0),
      |x AS (
      |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
      |         generate_subscripts(embedding, 1) AS pos
      |  FROM embeddings
      |  WHERE len(list_filter(embedding, v -> v IS NULL)) = 0),
      |$pqChainCtes,
      |adcp AS (SELECT l.q_id, e.vec_id,
      |    SUM(CAST(l.term AS DECIMAL(20,10))) AS adc_dot
      |  FROM enc e JOIN lut l ON e.s = l.s AND e.ck = l.ck
      |    AND e.vec_id <> l.q_id
      |  GROUP BY l.q_id, e.vec_id),
      |$adcTailSql""".stripMargin

  /** The composed production layout, oracle-graded: the 2-iteration IVF
    * coarse quantizer ([[ivfAssignCtes]] — `lst` is the final inverted
    * lists) prunes candidates to each probe's OWN cell (nprobe=1), and
    * the PQ chain ranks only those members by ADC. Mirrors
    * [[ivfPq]]'s per-probe pair restriction exactly. */
  private val ivfPqSql =
    s"""$ivfAssignCtes,
      |$pqChainCtes,
      |prc AS (SELECT vec_id AS q_id, ck AS pck FROM lst WHERE vec_id < 5),
      |cand AS (SELECT prc.q_id, c.vec_id FROM lst c
      |  JOIN prc ON c.ck = prc.pck AND c.vec_id <> prc.q_id),
      |adcp AS (SELECT ca.q_id, e.vec_id,
      |    SUM(CAST(l.term AS DECIMAL(20,10))) AS adc_dot
      |  FROM cand ca JOIN enc e ON e.vec_id = ca.vec_id
      |  JOIN lut l ON l.q_id = ca.q_id AND l.s = e.s AND l.ck = e.ck
      |  GROUP BY ca.q_id, e.vec_id),
      |$adcTailSql""".stripMargin

  /** Per-cell quota in salted-hash order over the SAME final assignment
    * (`lst`) — the 48-bit '0x'-prefixed md5 key mirrors the engine's
    * conv(md5)/16→10 sample key bit-for-bit. */
  private val clusterDiverseSql =
    s"""$ivfAssignCtes
      |SELECT vec_id, ck, rank FROM (
      |  SELECT vec_id, ck, CAST(ROW_NUMBER() OVER (PARTITION BY ck
      |      ORDER BY CAST('0x'||substring(md5('divsamp:'||CAST(vec_id AS VARCHAR)),1,12)
      |        AS BIGINT), vec_id) AS BIGINT) AS rank
      |  FROM lst)
      |WHERE rank <= 25 ORDER BY ck, rank""".stripMargin

  /** HLL approximate distinct (Spark-native approx_count_distinct, rsd 2%)
    * alongside the exact count — the raw surface for `AnnRecallSpec`.
    * Pre-deduplicated (lang, word) input, same rationale as
    * `Sketches.hllRaw`: HLL++ is duplicate-insensitive and exact becomes
    * a plain count, so the distinct-rewrite Expand never sees the raw
    * token stream. */
  private[llm] def hllDistinctRaw(s: SparkSession, d: String): DataFrame =
    Dedup.words(T.documents(s, d))
      .select(col("lang"), col("word")).distinct()
      .groupBy(col("lang"))
      .agg(approx_count_distinct(col("word"), 0.02).as("approx_words"),
        count(lit(1)).as("exact_words"))

  /** Registry surface: exact count graded by the oracle; `acd_ok` asserts
    * the HLL++ estimate sits within 10% of exact. */
  private def hllDistinct(s: SparkSession, d: String): DataFrame =
    hllDistinctRaw(s, d)
      .select(col("lang"), col("exact_words"),
        (abs(col("approx_words").cast(DoubleType) - col("exact_words").cast(DoubleType)) /
          col("exact_words").cast(DoubleType) <= 0.10).as("acd_ok"))
      .orderBy(col("lang"))

  private val hllDistinctSql =
    """WITH wrd AS (
      |  SELECT doc_id, lang, word FROM (
      |    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
      |    FROM documents) WHERE word <> '')
      |SELECT lang, COUNT(DISTINCT word) AS exact_words, TRUE AS acd_ok
      |FROM wrd GROUP BY lang ORDER BY lang""".stripMargin

  // ---- retrieval_maxsim: late-interaction (ColBERT-style) scoring -------
  /** Multi-vector late-interaction retrieval: queries and documents are
    * BAGS of token vectors (here: embeddings grouped 8-per-pseudo-doc by
    * `vec_id div 8`, the fixture's stand-in for a per-token encoder);
    * score(q, d) = Σ_{i∈q} max_{j∈d} cos(q_i, d_j) — each query token
    * takes its best-matching document token, the document scores the sum.
    *
    * Shape: probe-bounded like `text_bm25` — the query side is FIXED
    * (gid % 50 = 0 AND gid < 200 → ≤4 query docs × ≤8 tokens regardless
    * of corpus size, the sweep's probe rule) and force-broadcast; the
    * candidate tokens stream past ONCE; the per-(query-token, doc) max
    * and per-(query, doc) sum are hash aggregates keyed by doc — never a
    * doc×doc cross. At 100 TB the candidate set is first cut by an ANN
    * pass over a pooled per-doc vector (the standard two-stage ColBERT
    * serving plan — `ann_ivf_topk` is that first stage); this scoring
    * join is the second stage and its cost is |candidates|, not corpus².
    *
    * Determinism: cosine is the fixed-order IEEE chain every ANN oracle
    * replays; max over doc tokens is selection (order-free); each
    * per-token max is q6-quantized (the text_zipf_fit recipe) BEFORE the
    * ≤8-term sum, so the score is exact long arithmetic in both engines.
    * Top-5 per query, ties to the lower doc gid. */
  private def maxsim(s: SparkSession, d: String): DataFrame = {
    val toks = normed(s, d).withColumn("gid", expr("vec_id div 8"))
    val isQ = (col("gid") % 50 === 0) && (col("gid") < 200)
    val q = toks.filter(isQ).select(col("gid").as("q_gid"),
      col("vec_id").as("q_tok"), col("emb").as("q_emb"),
      col("nsq").as("q_nsq"))
    val perTok = toks.filter(!isQ).crossJoin(broadcast(q))
      .withColumn("cos", dot(col("q_emb"), col("emb")) /
        (sqrt(col("q_nsq")) * sqrt(col("nsq"))))
      .groupBy(col("q_gid"), col("q_tok"), col("gid"))
      .agg(max(col("cos")).as("best"))
    val scored = perTok
      .withColumn("bq",
        (col("best").cast(DecimalType(18, 6)) * lit(1000000)).cast(LongType))
      .groupBy(col("q_gid"), col("gid")).agg(sum(col("bq")).as("score_q6"))
    val w = Window.partitionBy(col("q_gid"))
      .orderBy(col("score_q6").desc, col("gid"))
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 5)
      .select(col("q_gid"), col("gid").as("c_gid"), col("rank"),
        col("score_q6"))
      .orderBy(col("q_gid"), col("rank"))
  }

  private val maxsimSql =
    s"""WITH n AS (
       |  SELECT vec_id, vec_id // 8 AS gid, CAST(embedding AS DOUBLE[]) AS emb,
       |    ${Dedup.guardedNsq} AS nsq
       |  FROM embeddings
       |  WHERE ${Dedup.guardedNsq} > 0),
       |q AS (SELECT gid AS q_gid, vec_id AS q_tok, emb AS q_emb, nsq AS q_nsq
       |      FROM n WHERE gid % 50 = 0 AND gid < 200),
       |pt AS (
       |  SELECT q.q_gid, q.q_tok, c.gid,
       |    MAX(list_inner_product(q.q_emb, c.emb)
       |      / (sqrt(q.q_nsq) * sqrt(c.nsq))) AS best
       |  FROM (SELECT * FROM n WHERE NOT (gid % 50 = 0 AND gid < 200)) c
       |  CROSS JOIN q
       |  GROUP BY q.q_gid, q.q_tok, c.gid),
       |sc AS (
       |  SELECT q_gid, gid,
       |    SUM(CAST(CAST(best AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS score_q6
       |  FROM pt GROUP BY q_gid, gid),
       |r AS (
       |  SELECT q_gid, gid AS c_gid, score_q6,
       |    ROW_NUMBER() OVER (PARTITION BY q_gid
       |      ORDER BY score_q6 DESC, gid) AS rank
       |  FROM sc)
       |SELECT q_gid, c_gid, CAST(rank AS BIGINT) AS rank,
       |  CAST(score_q6 AS BIGINT) AS score_q6
       |FROM r WHERE rank <= 5 ORDER BY q_gid, rank""".stripMargin

  // ---- emb_knn_graph: bucket-bounded k-NN graph over ALL nodes ----------
  /** The SemDeDup/cluster building block the probe queries don't cover:
    * EVERY vector's top-3 neighbors, candidates bounded by the
    * (label, SRP-bucket) cell exactly like `dedup_embedding_cosine` —
    * cost is Σ cell², never corpus², and more planes shrink cells as the
    * corpus grows. Output is the edge list downstream clustering
    * (`dedup_clusters`-style CC / `graph_lpa_communities`) consumes.
    * Per-node ranking runs two-phase (WindowGroupLimit on the cos sort),
    * ties on the RAW cosine break to the lower neighbor_id in both
    * engines; output cosine rounds through DECIMAL(10,4) (the rerank
    * convention). */
  private def knnGraphGraded(s: SparkSession, d: String): DataFrame =
    knnGraph(s, d)
      .select(col("vec_id"), col("neighbor_id"), col("cos_sim"), col("rn"))
      .orderBy(col("vec_id"), col("rn"))

  /** The k-NN edge relation both graded consumers start from
    * (`emb_knn_graph` presents it sorted; `emb_knn_components`
    * thresholds + CC over it). The (label, bucket) cell rides along —
    * constant per vec_id, needed by the per-cell CC. */
  private[llm] def knnGraph(s: SparkSession, d: String): DataFrame = {
    // cached: the cell self-join reads both sides (in-plan, released
    // per query)
    val n = normed(s, d).join(buckets(s, d, planes = 4), Seq("vec_id"))
      .cache()
    val a = n.select(col("vec_id"), col("label"), col("bucket"),
      col("emb").as("emb_a"), col("nsq").as("nsq_a"))
    val b = n.select(col("vec_id").as("neighbor_id"), col("label"),
      col("bucket"), col("emb").as("emb_b"), col("nsq").as("nsq_b"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    a.join(b, Seq("label", "bucket"))
      .filter(col("vec_id") =!= col("neighbor_id"))
      .withColumn("cos", dot(col("emb_a"), col("emb_b")) /
        (sqrt(col("nsq_a")) * sqrt(col("nsq_b"))))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= 3)
      .select(col("vec_id"), col("neighbor_id"),
        col("cos").cast(DecimalType(10, 4)).cast(DoubleType).as("cos_sim"),
        col("rn"), col("label"), col("bucket"))
  }

  private val knnGraphSql =
    s"""$lshCtes,
      |p AS (
      |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
      |    list_inner_product(a.emb, b.emb) / (sqrt(a.nsq) * sqrt(b.nsq)) AS cos
      |  FROM n a JOIN n b ON a.label = b.label AND a.bucket = b.bucket
      |    AND a.vec_id <> b.vec_id)
      |SELECT vec_id, neighbor_id,
      |  CAST(CAST(cos AS DECIMAL(10,4)) AS DOUBLE) AS cos_sim, rn
      |FROM (SELECT *, CAST(ROW_NUMBER() OVER (
      |        PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rn
      |      FROM p)
      |WHERE rn <= 3 ORDER BY vec_id, rn""".stripMargin

  // ---- emb_knn_components: semantic clusters over the k-NN graph --------
  /** SemDeDup's grouping stage end-to-end: threshold the k-NN graph's
    * edges at τ (the dedup knob — pinned at 0.25 here because the
    * fixture embeddings are near-orthogonal, max cos ≈ 0.37/0.47; a real
    * near-dup corpus runs 0.9+), then connected components via the SAME
    * min-label propagation `dedup_clusters` uses (edge-induced active
    * set, pointer-jump rounds, singletons joined back at the end). The
    * threshold compares the DECIMAL(10,4)-rounded cosine so the edge set
    * is boundary-stable across engines. */
  private def knnComponents(s: SparkSession, d: String): DataFrame = {
    // r15: every knn edge is INTRA-CELL by construction (candidates are
    // bounded by the (label, SRP-bucket) cell), so components never
    // span cells — CC runs per cell in ONE hash aggregation + a local
    // union-find (functions.CcMinLabels), replacing the distributed
    // min-label loop that paid 9 rounds ≈ 30+ scheduler-bound jobs here
    // (the per-round shuffles were of a tiny active set; the cost was
    // the rounds themselves). Per-cell work is corpus-size-independent:
    // the plane count holds cell population constant as the corpus
    // grows — the family's standing scale rule. Labels are identical to
    // ccLabels' fixed point: min node id per component, a set property.
    val labeled = knnGraph(s, d).filter(col("cos_sim") >= 0.25)
      .groupBy(col("label"), col("bucket"))
      .agg(collect_list(struct(col("vec_id").as("a"),
        col("neighbor_id").as("b"))).as("es"))
      .select(explode(graft.functions.CcMinLabels.of(col("es"))).as("lc"))
      .select(col("lc.doc_id").as("vec_id"), col("lc.cluster").as("cluster"))
    val nodes = normed(s, d).select(col("vec_id"))
    nodes.join(labeled, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cluster"), col("vec_id")).as("cluster"))
      .withColumn("is_canonical", col("vec_id") === col("cluster"))
      .orderBy(col("vec_id"))
  }

  private val knnComponentsSql =
    s"""${lshCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
      |p AS (
      |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
      |    list_inner_product(a.emb, b.emb) / (sqrt(a.nsq) * sqrt(b.nsq)) AS cos
      |  FROM n a JOIN n b ON a.label = b.label AND a.bucket = b.bucket
      |    AND a.vec_id <> b.vec_id),
      |k AS (
      |  SELECT vec_id, neighbor_id FROM (
      |    SELECT *, ROW_NUMBER() OVER (
      |      PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS rn
      |    FROM p)
      |  WHERE rn <= 3 AND CAST(CAST(cos AS DECIMAL(10,4)) AS DOUBLE) >= 0.25),
      |edges AS (SELECT vec_id AS src, neighbor_id AS dst FROM k
      |          UNION ALL SELECT neighbor_id, vec_id FROM k),
      |reach AS (
      |  SELECT vec_id AS doc_id, vec_id AS lbl FROM n
      |  UNION
      |  SELECT e.src AS doc_id, r.lbl
      |  FROM edges e JOIN reach r ON e.dst = r.doc_id)
      |SELECT doc_id AS vec_id, MIN(lbl) AS cluster,
      |  doc_id = MIN(lbl) AS is_canonical
      |FROM reach GROUP BY doc_id ORDER BY vec_id""".stripMargin

  override val defs: Seq[(String, QueryDef)] = Seq(
    "emb_knn_components"     -> QueryDef(knnComponents, Some(knnComponentsSql)),
    "emb_knn_graph"          -> QueryDef(knnGraphGraded, Some(knnGraphSql)),
    "retrieval_maxsim"       -> QueryDef(maxsim, Some(maxsimSql)),
    "ann_lsh_topk"           -> QueryDef(lshTopk, Some(lshTopkSql)),
    "retrieval_eval_ndcg"    -> QueryDef(evalNdcg, Some(evalNdcgSql)),
    "ann_lsh_multiprobe"     -> QueryDef(lshMultiprobe, Some(lshMultiprobeSql)),
    "ann_hard_negatives"     -> QueryDef(hardNegatives, Some(hardNegativesSql)),
    "ann_ivf_topk"           -> QueryDef(ivfTopk, Some(ivfTopkSql)),
    "ann_pq_adc"             -> QueryDef(pqAdcTopk, Some(pqAdcSql)),
    "ann_ivfpq_topk"         -> QueryDef((s, d) => ivfPq(s, d), Some(ivfPqSql)),
    "retrieval_mmr"          -> QueryDef(mmr, Some(mmrSql)),
    "sample_cluster_diverse" -> QueryDef(clusterDiverse, Some(clusterDiverseSql)),
    "hll_distinct"           -> QueryDef(hllDistinct, Some(hllDistinctSql)),
  )
}
