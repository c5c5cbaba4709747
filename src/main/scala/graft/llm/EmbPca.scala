package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{QueryDef, QueryGroup, Tables => T}

/** Embedding second-moment analytics: the exact covariance matrix and its
  * top principal component — the "all-but-the-top" post-processing
  * (Mu & Viswanath 2018: embedding sets share a large common direction;
  * removing the mean and the top PC(s) measurably improves similarity
  * tasks), which needs exactly these two artifacts.
  *
  * Cross-engine float discipline (the `emb_centroid_stats` recipe, taken
  * further): components quantize once to 1e6-scaled BIGINTs, and the
  * covariance is computed EXACTLY in integer space via the expanded form
  * C(j,k) = S_jk − qm_j·T_k − qm_k·T_j + n·qm_j·qm_k (S = raw second
  * moments, T = sums, qm = the floor-rounded integer mean), so the
  * oracle grades it bit-for-bit. The power iteration holds its state as
  * scaled BIGINTs too: each matvec is an exact integer dot (1e6-scale
  * matrix × 1e9-scale vector), each re-normalization is a fixed chain of
  * single IEEE ops (BIGINT→double cast, sqrt, divide, floor-round) that
  * both engines evaluate identically. No order-dependent double sums
  * anywhere.
  *
  * Scale shape: ONE corpus pass computes S/T/n via the
  * [[graft.functions.GramianAgg]] mergeable buffer — each row folds
  * dim²/2 multiply-adds into a flat long array in place, partials
  * combine map-side, and exactly one buffer per partition crosses the
  * shuffle (this replaced a dim²/2-structs-per-vector explode that
  * shuffled a dim²·n-row stream and capped the family at dim 512);
  * everything after operates on dim²-row relations (the matvec joins a
  * dim²-row matrix with a dim-row vector — broadcast-sized at any corpus
  * size). dim is guarded loudly at 4096 (the buffer-size ceiling —
  * 67 MB of longs per partial); wider wants a sharded block-partitioned
  * Gramian, which this engine does not claim.
  */
object EmbPca extends QueryGroup {

  /** Power-iteration rounds. Pinned small so the unrolled oracle stays
    * readable; production raises it or adds a convergence check —
    * per-round cost is dim²-bounded, not corpus-bounded.
    *
    * Convergence contract (documented, not hidden): k-step power
    * iteration converges at rate (λ₂/λ₁)^k, so the result is the top PC
    * only when the spectrum has a gap — exactly the regime
    * all-but-the-top targets (a DOMINANT common direction). On
    * gap-free near-isotropic data (this repo's synthetic embeddings:
    * λ₁/λ₂ ≈ 1.017) no iteration count converges and the output is the
    * deterministic k-step iterate, which the oracle grades exactly
    * either way. `EmbPcaSpec` proves top-PC recovery (|cos| > 0.999 vs
    * an independent reference) on a crafted dominant-direction corpus. */
  private[llm] val PowerIters = 8

  /** Ceiling on the Gramian buffer (67 MB of longs per partial at 4096
    * — the same width the LSH plane-matrix guard claims); past it the
    * aggregate fails loudly rather than truncating. */
  private val MaxDim = 4096

  /** (vec_id, qa) with components floor-quantized to 1e6-scaled longs.
    * Empty/null vectors are dropped up front: they carry no moments, and
    * `sequence(0, size-1)` on size 0 would DESCEND to [0,-1] and index
    * an empty array (the degenerate-fixture contract). */
  private def quantized(s: SparkSession, d: String): DataFrame =
    T.embeddings(s, d)
      .filter(size(col("embedding")) > 0)
      .select(col("vec_id"),
        expr("transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))")
          .as("qa"))

  /** THE corpus pass: the whole second-moment state as ONE
    * [[graft.functions.GramianAgg]] row, materialized so every consumer
    * (sums, pairs, the mean, the matrix) reads the same buffer instead
    * of re-scanning the corpus. Replaces the former dim²/2-structs-
    * per-vector explode → dim²-key hash agg (identical exact-integer
    * sums, but that shape shuffled a dim²·n-row stream — the engine's
    * worst 10× sweep ratio — and capped the family at dim 512). */
  private def gram(s: SparkSession, d: String): DataFrame =
    graft.core.Materialize.cut(
      quantized(s, d).agg(
        graft.functions.GramianAgg.gramian(col("qa"), MaxDim).as("g")))

  /** Empty-corpus-safe 0..d-1: `sequence(0, -1)` DESCENDS, so d = 0 must
    * short-circuit to a typed empty array. */
  private val dimSeq = "CASE WHEN g.d = 0 THEN CAST(array() AS ARRAY<INT>) " +
    "ELSE sequence(0, g.d - 1) END"

  /** Per-dim exact sums: (j, tj, n) — unpacked from the gram row; rows
    * only for positions some vector has (nj > 0), the explode parity. */
  private def sumsOf(g: DataFrame): DataFrame =
    g.select(explode(expr(
      s"transform($dimSeq, j -> struct(j AS j, g.tj[j] AS tj, g.nj[j] AS n))")).as("e"))
      .select(col("e.j").as("j"), col("e.tj").as("tj"), col("e.n").as("n"))
      .filter(col("n") > 0)

  /** Upper-triangle exact raw second moments: (j, k, s). Arrays are
    * prefix-indexed, so pair (j,k), j ≤ k, co-occurred in some vector
    * iff nj(k) > 0 — the filter keeps never-co-occurring pairs out,
    * exactly as the pair-explode emitted none. */
  private def pairsOf(g: DataFrame): DataFrame =
    g.select(explode(expr(
      s"""flatten(transform($dimSeq, k ->
         |  transform(sequence(0, k), j ->
         |    struct(j AS j, k AS k, g.s[(k * (k + 1)) div 2 + j] AS s,
         |      g.nj[k] AS nk))))""".stripMargin)).as("e"))
      .filter(col("e.nk") > 0)
      .select(col("e.j").as("j"), col("e.k").as("k"), col("e.s").as("s"))

  /** Upper-triangle exact covariance: (j, k, cov_q) at 1e12·n scale plus
    * the real-valued cov — C(j,k) = S − qm_j·T_k − qm_k·T_j + n·qm_j·qm_k. */
  private def covarianceDfOf(g: DataFrame): DataFrame = {
    val (sums, pairs) = (sumsOf(g), pairsOf(g))
    val qm = sums.select(col("j"), col("tj"), col("n"),
      floor(col("tj").cast(DoubleType) / col("n").cast(DoubleType) + lit(0.5))
        .cast(LongType).as("qm"))
    pairs
      .join(qm.select(col("j"), col("tj").as("tj_j"), col("qm").as("qm_j"), col("n")), Seq("j"))
      .join(qm.select(col("j").as("k"), col("tj").as("tj_k"), col("qm").as("qm_k")),
        Seq("k"))
      .select(col("j"), col("k"),
        (col("s") - col("qm_j") * col("tj_k") - col("qm_k") * col("tj_j") +
          col("n") * col("qm_j") * col("qm_k")).as("cov_q"), col("n"))
  }

  private def covariance(s: SparkSession, d: String): DataFrame =
    covarianceDfOf(gram(s, d))
      .select(col("j"), col("k"), col("cov_q"),
        (col("cov_q").cast(DoubleType) /
          (col("n").cast(DoubleType) * lit(1.0e12))).as("cov"))
      .orderBy(col("j"), col("k"))

  /** The whole spectral model every consumer below derives from the one
    * Gramian pass: per-dim mean (k, qm), the two iterated directions
    * (k, v9), and the scalar row (lam1_6, lam2_6, trace6). All BIGINTs
    * (NULL trace on an empty corpus).
    *
    * r16 (guide §1.2, the lake_cow metadata-fold precedent): the corpus
    * pass stays distributed (ONE GramianAgg aggregation), but the
    * spectral chain after it — covariance assembly, 2×[[PowerIters]]
    * matvec fixed points, Rayleigh quotients, Hotelling deflation — now
    * runs on the DRIVER over the collected gram buffer. That buffer is
    * dim²-bounded (67 MB at the loud MaxDim=4096 ceiling), CORPUS-SIZE
    * INDEPENDENT, and was already materialized as one row; the former
    * dim²-row Spark formulation paid ~30 scheduler-bound tiny jobs per
    * consumer for algebra a single core does in microseconds. Arithmetic
    * is replicated operation-for-operation (same long/BigInt exact
    * products, same single floor/sqrt/divide IEEE chains), so the model
    * is bit-identical, and the oracle replays the identical chain in
    * SQL. */
  private[llm] def pcaModel(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import scala.jdk.CollectionConverters._
    val g = quantized(s, d)
      .agg(graft.functions.GramianAgg.gramian(col("qa"), MaxDim).as("g"))
      .collect()(0).getStruct(0)
    val dim = g.getInt(0)
    val nj = g.getSeq[Long](1)
    val tj = g.getSeq[Long](2)
    val sArr = g.getSeq[Long](3)

    // per-dim sums and floor-rounded integer means (rows only for dims
    // some vector has — the explode parity)
    val js = (0 until dim).filter(j => nj(j) > 0)
    val qm: Map[Int, Long] = js.map(j =>
      j -> math.floor(tj(j).toDouble / nj(j).toDouble + 0.5).toLong).toMap

    // upper-triangle exact covariance at 1e12·n scale, collapsed to the
    // 1e6-scaled per-n matrix entry c = floor(cov_q / n_j / 1e6 + 0.5),
    // then mirrored to the full matrix — identical to the former
    // covarianceDfOf → fullMatrixOf chain
    val upper = for {
      k <- 0 until dim
      if nj(k) > 0
      j <- 0 to k
      if nj(j) > 0
    } yield {
      val sjk = sArr(k * (k + 1) / 2 + j)
      val covQ = sjk - qm(j) * tj(k) - qm(k) * tj(j) + nj(j) * qm(j) * qm(k)
      (j, k, math.floor(covQ.toDouble / nj(j).toDouble / 1.0e6 + 0.5).toLong)
    }
    val c1: Map[(Int, Int), Long] =
      (upper ++ upper.collect { case (j, k, c) if j != k => (k, j, c) })
        .map { case (j, k, c) => (j, k) -> c }.toMap

    // [[PowerIters]] rounds from all-ones: exact long matvec at 1e15
    // scale, floor-round back to 1e9, exact BigInt norm, one IEEE
    // sqrt/divide chain per round — the former powerIterate verbatim
    def powerIter(cm: Map[(Int, Int), Long]): Map[Int, Long] = {
      var v: Map[Int, Long] =
        cm.keys.map(_._1).toSeq.distinct.map(_ -> 1000000000L).toMap
      for (_ <- 1 to PowerIters) {
        val w = scala.collection.mutable.Map.empty[Int, Long]
        cm.foreach { case ((j, k), c) =>
          v.get(k).foreach(v9 => w(j) = w.getOrElse(j, 0L) + c * v9)
        }
        val n2 = w.values.map { w15 =>
          val w9 = math.floor(w15.toDouble / 1.0e6 + 0.5).toLong
          BigInt(w9) * BigInt(w9)
        }.sum
        v = w.toMap.map { case (j, w15) =>
          val w9 = math.floor(w15.toDouble / 1.0e6 + 0.5).toLong
          j -> (if (n2 > 0)
            math.floor(w9.toDouble / math.sqrt(n2.toDouble) * 1.0e9 + 0.5).toLong
          else 0L)
        }
      }
      v
    }

    // Rayleigh quotient λ̂ = vᵀCv / vᵀv, 1e6-scaled: exact BigInt
    // numerator/denominator, one floor-round — the former rayleighLam
    def rayleigh(cm: Map[(Int, Int), Long], v: Map[Int, Long]): Long = {
      var num = BigInt(0)
      cm.foreach { case ((j, k), c) =>
        (v.get(j), v.get(k)) match {
          case (Some(vj), Some(vk)) => num += BigInt(c) * BigInt(vj) * BigInt(vk)
          case _ =>
        }
      }
      val den = v.values.map(x => BigInt(x) * BigInt(x)).sum
      if (den > 0) math.floor(num.toDouble / den.toDouble + 0.5).toLong else 0L
    }

    val v1 = powerIter(c1)
    val lam1 = rayleigh(c1, v1)
    // Hotelling deflation C₂ = C − λ̂₁·v̂₁v̂₁ᵀ — inner-join semantics of
    // the former deflatedOf (pairs outside v̂₁'s key set drop)
    val c2: Map[(Int, Int), Long] = c1.flatMap { case ((j, k), c) =>
      (v1.get(j), v1.get(k)) match {
        case (Some(vj), Some(vk)) =>
          val t = BigInt(lam1) * BigInt(vj) * BigInt(vk)
          Some((j, k) -> (c - math.floor(t.toDouble / 1.0e18 + 0.5).toLong))
        case _ => None
      }
    }
    val v2 = powerIter(c2)
    val lam2 = rayleigh(c2, v2)
    val trace: Option[Long] = {
      val diag = c1.collect { case ((j, k), c) if j == k => c }
      if (diag.isEmpty) None else Some(diag.sum)
    }

    import org.apache.spark.sql.Row
    def vecDf(v: Map[Int, Long]): DataFrame = s.createDataFrame(
      v.toSeq.sortBy(_._1).map { case (k, v9) => Row(k, v9) }.asJava,
      StructType(Seq(StructField("k", IntegerType, nullable = false),
        StructField("v9", LongType, nullable = false))))
    val meanDf = s.createDataFrame(
      js.map(j => Row(j, qm(j))).asJava,
      StructType(Seq(StructField("k", IntegerType, nullable = false),
        StructField("qm", LongType, nullable = false))))
    val scalars = s.createDataFrame(
      Seq(Row(lam1, lam2, trace.map(Long.box).orNull)).asJava,
      StructType(Seq(StructField("lam1_6", LongType, nullable = false),
        StructField("lam2_6", LongType, nullable = false),
        StructField("trace6", LongType, nullable = true))))
    (meanDf, vecDf(v1), vecDf(v2), scalars)
  }

  /** Top principal component by [[PowerIters]] rounds of power iteration
    * on the 1e6-scaled per-n covariance, starting from all-ones — from
    * the shared [[pcaModel]]. */
  private def topPc(s: SparkSession, d: String): DataFrame = {
    val (mean, v1, _, _) = pcaModel(s, d)
    v1.join(mean, Seq("k"))
      .select(col("k").as("pos"),
        (col("qm").cast(DoubleType) / lit(1.0e6)).as("mean_v"),
        (col("v9").cast(DoubleType) / lit(1.0e9)).as("pc"))
      .orderBy(col("pos"))
  }

  /** Top TWO components via Hotelling deflation: iterate on C, estimate
    * λ₁ by the Rayleigh quotient, deflate C₂ = C − λ₁·v̂₁v̂₁ᵀ, iterate
    * again. All three steps stay in the integer/decimal discipline: the
    * Rayleigh numerator Σ c·v_j·v_k and the deflation terms λ₁·v_j·v_k
    * are exact DECIMAL(38,0) products (up to ~26 digits) collapsed by a
    * fixed floor-round; the two iteration chains are the shared
    * [[powerIterate]]. Convergence contract as [[topPc]] — on a
    * spectrum with two dominant directions both are recovered
    * (`EmbPcaSpec`), and v̂₂ ⊥ v̂₁ up to rounding. */
  /** Rayleigh-quotient eigenvalue estimate λ̂ = vᵀCv / vᵀv of iterate
    * `v1` on matrix `c1`, 1e6-scaled (the matrix's own scale): exact
    * DECIMAL(38,0) numerator and denominator collapsed by one fixed
    * floor-round — shared by [[topPc2]]'s deflation and the
    * variance-explained scorecard. A zero iterate yields the defined
    * λ̂ = 0. */
  private def topPc2(s: SparkSession, d: String): DataFrame = {
    val (_, v1, v2, _) = pcaModel(s, d)
    v1.select(col("k"), col("v9").as("p1"))
      .join(v2.select(col("k"), col("v9").as("p2")), Seq("k"))
      .select(col("k").as("pos"),
        (col("p1").cast(DoubleType) / lit(1.0e9)).as("pc1"),
        (col("p2").cast(DoubleType) / lit(1.0e9)).as("pc2"))
      .orderBy(col("pos"))
  }

  /** The PCA quality scorecard all-but-the-top is premised on (Mu &
    * Viswanath 2018 report the top component's variance share as THE
    * isotropy diagnostic): total variance = trace of the 1e6-scaled
    * per-n covariance (exact BIGINT sum of the diagonal), λ̂₁ = the
    * Rayleigh quotient of the iterated direction at the same scale, and
    * their ratio — one IEEE division. High share ⇒ a dominant common
    * direction worth removing; near-isotropic ⇒ removal buys nothing.
    * Degenerate corpus: NULL trace (SQL sum-over-empty), λ̂₁ = 0,
    * NULL ratio — both engines identically. */
  private def varExplained(s: SparkSession, d: String): DataFrame = {
    val (_, _, _, scalars) = pcaModel(s, d)
    scalars.select(col("trace6"), col("lam1_6").as("lam6"),
      when(col("trace6") > 0,
        col("lam1_6").cast(DoubleType) / col("trace6").cast(DoubleType))
        .as("var_explained"))
  }

  /** The all-but-the-top application: per vector, the projection
    * coefficient onto the iterated direction and the cosine with it —
    * the two numbers the removal x′ = (x−μ) − proj·v̂ needs, plus the
    * centered norm. Dots and norms are EXACT integer sums (centered
    * components ⩽1e7-scale × v9 ⩽1e9-scale fit longs at dim ⩽512); the
    * real-valued outputs are fixed single-IEEE chains of those exact
    * integers. Zero-norm vectors (or a zero iterate) get a DEFINED null
    * cosine — the family's degenerate contract. */
  private def removeTopPc(s: SparkSession, d: String): DataFrame = {
    val (mean, vec, _, _) = pcaModel(s, d)
    val comp = quantized(s, d)
      .select(col("vec_id"), posexplode(col("qa")).as(Seq("k", "qv")))
    val centered = comp.join(broadcast(mean), Seq("k"))
      .select(col("vec_id"), col("k"), (col("qv") - col("qm")).as("cv"))
    val vn2 = vec.select(
      sum(col("v9").cast(DecimalType(38, 0)) * col("v9").cast(DecimalType(38, 0)))
        .as("vn2"))
    centered.join(broadcast(vec), Seq("k"))
      .groupBy(col("vec_id"))
      .agg(sum(col("cv") * col("v9")).as("dot15"),
        sum(col("cv") * col("cv")).as("cn2"))
      .crossJoin(broadcast(vn2))
      .select(col("vec_id"),
        (col("dot15").cast(DoubleType) / lit(1.0e15)).as("proj"),
        (sqrt(col("cn2").cast(DoubleType)) / lit(1.0e6)).as("norm_c"),
        when(col("cn2") > 0 && col("vn2") > 0,
          col("dot15").cast(DoubleType) /
            (sqrt(col("cn2").cast(DoubleType)) * sqrt(col("vn2").cast(DoubleType))))
          .as("cos_pc"))
      .orderBy(col("vec_id"))
  }

  /** PCA whitening restricted to the top-2 subspace: per vector the
    * whitened coordinates y_i = (x−μ)·v̂_i / √λ̂_i for the two iterated
    * directions — the standard decorrelate-and-rescale preprocessing
    * (and the isotropy repair all-but-the-top approximates by dropping
    * the term instead of rescaling it). Same determinism recipe as
    * [[removeTopPc]]: dots are exact integer sums over the centered
    * 1e6-scale components × 1e9-scale directions, λ̂s are the exact
    * Rayleigh BIGINTs, and each output is one fixed IEEE chain
    * (cast, /1e15, /√(λ̂/1e6)). λ̂ ⩽ 0 (possible for the deflated matrix
    * on a degenerate spectrum) yields a DEFINED null coordinate.
    * Scale shape: the spectral model comes from the shared [[pcaModel]]
    * (one Gramian pass + driver-side dim²-bounded algebra); this
    * query's own cost is ONE narrow centered-dot
    * aggregation with dim-row broadcasts. */
  private def whitenTop2(s: SparkSession, d: String): DataFrame = {
    val (mean, v1, v2, scalars) = pcaModel(s, d)
    val comp = quantized(s, d)
      .select(col("vec_id"), posexplode(col("qa")).as(Seq("k", "qv")))
    val centered = comp.join(broadcast(mean), Seq("k"))
      .select(col("vec_id"), col("k"), (col("qv") - col("qm")).as("cv"))
    centered
      .join(broadcast(v1.select(col("k"), col("v9").as("va"))), Seq("k"))
      .join(broadcast(v2.select(col("k"), col("v9").as("vb"))), Seq("k"))
      .groupBy(col("vec_id"))
      .agg(sum(col("cv") * col("va")).as("dot1"),
        sum(col("cv") * col("vb")).as("dot2"))
      .crossJoin(broadcast(
        scalars.select(col("lam1_6").as("lam1"), col("lam2_6").as("lam2"))))
      .select(col("vec_id"),
        when(col("lam1") > 0,
          col("dot1").cast(DoubleType) / lit(1.0e15) /
            sqrt(col("lam1").cast(DoubleType) / lit(1.0e6))).as("w1"),
        when(col("lam2") > 0,
          col("dot2").cast(DoubleType) / lit(1.0e15) /
            sqrt(col("lam2").cast(DoubleType) / lit(1.0e6))).as("w2"))
      .orderBy(col("vec_id"))
  }

  // ---- DuckDB oracle ----------------------------------------------------
  // Identical algebra: exact integer moments (a vec_id self-join builds
  // the pair products — the oracle is free to pay the join the Spark
  // side's narrow explode avoids), then the same per-stage rounded
  // matvec chain unrolled. Shared prologue generated once.

  private val momentsCtes =
    """comp AS (
      |  SELECT vec_id, CAST(pos - 1 AS INTEGER) AS j,
      |    CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS qv
      |  FROM (
      |    SELECT vec_id, unnest(embedding) AS v,
      |      generate_subscripts(embedding, 1) AS pos
      |    FROM embeddings)),
      |sums AS (
      |  SELECT j, CAST(SUM(qv) AS BIGINT) AS tj, COUNT(*) AS n,
      |    CAST(floor(CAST(SUM(qv) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) + 0.5)
      |      AS BIGINT) AS qm
      |  FROM comp GROUP BY j),
      |pairs AS MATERIALIZED (
      |  SELECT a.j AS j, b.j AS k, CAST(SUM(a.qv * b.qv) AS BIGINT) AS s
      |  FROM comp a JOIN comp b ON a.vec_id = b.vec_id AND a.j <= b.j
      |  GROUP BY a.j, b.j),
      |covq AS MATERIALIZED (
      |  SELECT p.j, p.k,
      |    p.s - mj.qm * mk.tj - mk.qm * mj.tj + mj.n * mj.qm * mk.qm AS cov_q,
      |    mj.n AS n
      |  FROM pairs p
      |  JOIN sums mj ON mj.j = p.j
      |  JOIN sums mk ON mk.j = p.k)""".stripMargin

  private val covarianceSql =
    s"""WITH $momentsCtes
       |SELECT j, k, CAST(cov_q AS BIGINT) AS cov_q,
       |  CAST(cov_q AS DOUBLE) / (CAST(n AS DOUBLE) * 1.0e12) AS cov
       |FROM covq ORDER BY j, k""".stripMargin

  private def iterSql(r: Int, mat: String = "cfull", sfx: String = ""): String =
    s"""w$sfx$r AS MATERIALIZED (
       |  SELECT c.j,
       |    CAST(floor(CAST(SUM(c.c * v.v9) AS DOUBLE) / 1.0e6 + 0.5) AS BIGINT)
       |      AS w9
       |  FROM $mat c JOIN v$sfx${r - 1} v ON v.k = c.k GROUP BY c.j),
       |n$sfx$r AS (SELECT SUM(CAST(w9 AS HUGEINT) * w9) AS n2 FROM w$sfx$r),
       |v$sfx$r AS MATERIALIZED (
       |  SELECT w.j AS k,
       |    CASE WHEN n.n2 > 0 THEN
       |      CAST(floor(CAST(w.w9 AS DOUBLE) / sqrt(CAST(n.n2 AS DOUBLE)) *
       |        1.0e9 + 0.5) AS BIGINT)
       |    ELSE 0 END AS v9
       |  FROM w$sfx$r w, n$sfx$r n)""".stripMargin

  private val topPcSql = {
    val iters = (1 to PowerIters).map(r => iterSql(r)).mkString(",\n")
    s"""WITH $momentsCtes,
       |cd AS MATERIALIZED (
       |  SELECT j, k,
       |    CAST(floor(CAST(cov_q AS DOUBLE) / CAST(n AS DOUBLE) / 1.0e6 + 0.5)
       |      AS BIGINT) AS c
       |  FROM covq),
       |cfull AS MATERIALIZED (
       |  SELECT j, k, c FROM cd
       |  UNION ALL
       |  SELECT k AS j, j AS k, c FROM cd WHERE j <> k),
       |v0 AS (SELECT DISTINCT j AS k, CAST(1000000000 AS BIGINT) AS v9 FROM cfull),
       |$iters
       |SELECT s.j AS pos,
       |  CAST(s.qm AS DOUBLE) / 1.0e6 AS mean_v,
       |  CAST(v.v9 AS DOUBLE) / 1.0e9 AS pc
       |FROM v$PowerIters v JOIN sums s ON s.j = v.k
       |ORDER BY pos""".stripMargin
  }

  private val removeTopPcSql = {
    val iters = (1 to PowerIters).map(r => iterSql(r)).mkString(",\n")
    s"""WITH $momentsCtes,
       |cd AS MATERIALIZED (
       |  SELECT j, k,
       |    CAST(floor(CAST(cov_q AS DOUBLE) / CAST(n AS DOUBLE) / 1.0e6 + 0.5)
       |      AS BIGINT) AS c
       |  FROM covq),
       |cfull AS MATERIALIZED (
       |  SELECT j, k, c FROM cd
       |  UNION ALL
       |  SELECT k AS j, j AS k, c FROM cd WHERE j <> k),
       |v0 AS (SELECT DISTINCT j AS k, CAST(1000000000 AS BIGINT) AS v9 FROM cfull),
       |$iters,
       |vn AS (SELECT SUM(CAST(v9 AS HUGEINT) * v9) AS vn2 FROM v$PowerIters),
       |ctr AS MATERIALIZED (
       |  SELECT c.vec_id, c.j AS k, c.qv - s.qm AS cv
       |  FROM comp c JOIN sums s ON s.j = c.j),
       |agg AS (
       |  SELECT ctr.vec_id,
       |    CAST(SUM(ctr.cv * v.v9) AS BIGINT) AS dot15,
       |    CAST(SUM(ctr.cv * ctr.cv) AS BIGINT) AS cn2
       |  FROM ctr JOIN v$PowerIters v ON v.k = ctr.k
       |  GROUP BY ctr.vec_id)
       |SELECT vec_id,
       |  CAST(dot15 AS DOUBLE) / 1.0e15 AS proj,
       |  sqrt(CAST(cn2 AS DOUBLE)) / 1.0e6 AS norm_c,
       |  CASE WHEN cn2 > 0 AND vn.vn2 > 0 THEN
       |    CAST(dot15 AS DOUBLE) /
       |      (sqrt(CAST(cn2 AS DOUBLE)) * sqrt(CAST(vn.vn2 AS DOUBLE)))
       |  END AS cos_pc
       |FROM agg, vn ORDER BY vec_id""".stripMargin
  }

  private val topPc2Sql = {
    val iters1 = (1 to PowerIters).map(r => iterSql(r)).mkString(",\n")
    val iters2 = (1 to PowerIters).map(r => iterSql(r, "c2full", "b")).mkString(",\n")
    val vN = s"v$PowerIters"
    s"""WITH $momentsCtes,
       |cd AS MATERIALIZED (
       |  SELECT j, k,
       |    CAST(floor(CAST(cov_q AS DOUBLE) / CAST(n AS DOUBLE) / 1.0e6 + 0.5)
       |      AS BIGINT) AS c
       |  FROM covq),
       |cfull AS MATERIALIZED (
       |  SELECT j, k, c FROM cd
       |  UNION ALL
       |  SELECT k AS j, j AS k, c FROM cd WHERE j <> k),
       |v0 AS (SELECT DISTINCT j AS k, CAST(1000000000 AS BIGINT) AS v9 FROM cfull),
       |$iters1,
       |rnum AS (
       |  SELECT SUM(CAST(c.c AS HUGEINT) * vj.v9 * vk.v9) AS num
       |  FROM cfull c JOIN $vN vj ON vj.k = c.j JOIN $vN vk ON vk.k = c.k),
       |rden AS (SELECT SUM(CAST(v9 AS HUGEINT) * v9) AS den FROM $vN),
       |lam AS (
       |  SELECT CASE WHEN d.den > 0 THEN
       |    CAST(floor(CAST(n.num AS DOUBLE) / CAST(d.den AS DOUBLE) + 0.5) AS BIGINT)
       |  ELSE 0 END AS lam6 FROM rnum n, rden d),
       |c2full AS MATERIALIZED (
       |  SELECT c.j, c.k,
       |    c.c - CAST(floor(CAST(CAST(l.lam6 AS HUGEINT) * vj.v9 * vk.v9 AS DOUBLE)
       |      / 1.0e18 + 0.5) AS BIGINT) AS c
       |  FROM cfull c
       |  JOIN $vN vj ON vj.k = c.j
       |  JOIN $vN vk ON vk.k = c.k, lam l),
       |vb0 AS (SELECT DISTINCT j AS k, CAST(1000000000 AS BIGINT) AS v9 FROM c2full),
       |$iters2
       |SELECT a.k AS pos,
       |  CAST(a.v9 AS DOUBLE) / 1.0e9 AS pc1,
       |  CAST(b.v9 AS DOUBLE) / 1.0e9 AS pc2
       |FROM $vN a JOIN vb$PowerIters b ON b.k = a.k
       |ORDER BY pos""".stripMargin
  }

  private val varExplainedSql = {
    val iters = (1 to PowerIters).map(r => iterSql(r)).mkString(",\n")
    s"""WITH $momentsCtes,
       |cd AS MATERIALIZED (
       |  SELECT j, k,
       |    CAST(floor(CAST(cov_q AS DOUBLE) / CAST(n AS DOUBLE) / 1.0e6 + 0.5)
       |      AS BIGINT) AS c
       |  FROM covq),
       |cfull AS MATERIALIZED (
       |  SELECT j, k, c FROM cd
       |  UNION ALL
       |  SELECT k AS j, j AS k, c FROM cd WHERE j <> k),
       |v0 AS (SELECT DISTINCT j AS k, CAST(1000000000 AS BIGINT) AS v9 FROM cfull),
       |$iters,
       |rnum AS (
       |  SELECT SUM(CAST(c.c AS HUGEINT) * vj.v9 * vk.v9) AS num
       |  FROM cfull c JOIN v$PowerIters vj ON vj.k = c.j
       |  JOIN v$PowerIters vk ON vk.k = c.k),
       |rden AS (SELECT SUM(CAST(v9 AS HUGEINT) * v9) AS den FROM v$PowerIters),
       |lam AS (
       |  SELECT CASE WHEN d.den > 0 THEN
       |    CAST(floor(CAST(n.num AS DOUBLE) / CAST(d.den AS DOUBLE) + 0.5) AS BIGINT)
       |  ELSE CAST(0 AS BIGINT) END AS lam6 FROM rnum n, rden d),
       |tr AS (SELECT CAST(SUM(c) AS BIGINT) AS trace6 FROM cfull WHERE j = k)
       |SELECT t.trace6 AS trace6, l.lam6 AS lam6,
       |  CASE WHEN t.trace6 > 0 THEN
       |    CAST(l.lam6 AS DOUBLE) / CAST(t.trace6 AS DOUBLE)
       |  END AS var_explained
       |FROM tr t, lam l""".stripMargin
  }

  /** DuckDB replay of [[whitenTop2]]: the topPc2 chain (λ̂₁, deflation,
    * second iteration) plus λ̂₂ on the deflated matrix and the identical
    * centered-dot aggregation against both directions. */
  private val whitenTop2Sql = {
    val iters1 = (1 to PowerIters).map(r => iterSql(r)).mkString(",\n")
    val iters2 = (1 to PowerIters).map(r => iterSql(r, "c2full", "b")).mkString(",\n")
    val vN = s"v$PowerIters"
    val vbN = s"vb$PowerIters"
    s"""WITH $momentsCtes,
       |cd AS MATERIALIZED (
       |  SELECT j, k,
       |    CAST(floor(CAST(cov_q AS DOUBLE) / CAST(n AS DOUBLE) / 1.0e6 + 0.5)
       |      AS BIGINT) AS c
       |  FROM covq),
       |cfull AS MATERIALIZED (
       |  SELECT j, k, c FROM cd
       |  UNION ALL
       |  SELECT k AS j, j AS k, c FROM cd WHERE j <> k),
       |v0 AS (SELECT DISTINCT j AS k, CAST(1000000000 AS BIGINT) AS v9 FROM cfull),
       |$iters1,
       |rnum AS (
       |  SELECT SUM(CAST(c.c AS HUGEINT) * vj.v9 * vk.v9) AS num
       |  FROM cfull c JOIN $vN vj ON vj.k = c.j JOIN $vN vk ON vk.k = c.k),
       |rden AS (SELECT SUM(CAST(v9 AS HUGEINT) * v9) AS den FROM $vN),
       |lam AS (
       |  SELECT CASE WHEN d.den > 0 THEN
       |    CAST(floor(CAST(n.num AS DOUBLE) / CAST(d.den AS DOUBLE) + 0.5) AS BIGINT)
       |  ELSE CAST(0 AS BIGINT) END AS lam6 FROM rnum n, rden d),
       |c2full AS MATERIALIZED (
       |  SELECT c.j, c.k,
       |    c.c - CAST(floor(CAST(CAST(l.lam6 AS HUGEINT) * vj.v9 * vk.v9 AS DOUBLE)
       |      / 1.0e18 + 0.5) AS BIGINT) AS c
       |  FROM cfull c
       |  JOIN $vN vj ON vj.k = c.j
       |  JOIN $vN vk ON vk.k = c.k, lam l),
       |vb0 AS (SELECT DISTINCT j AS k, CAST(1000000000 AS BIGINT) AS v9 FROM c2full),
       |$iters2,
       |rnumb AS (
       |  SELECT SUM(CAST(c.c AS HUGEINT) * vj.v9 * vk.v9) AS num
       |  FROM c2full c JOIN $vbN vj ON vj.k = c.j JOIN $vbN vk ON vk.k = c.k),
       |rdenb AS (SELECT SUM(CAST(v9 AS HUGEINT) * v9) AS den FROM $vbN),
       |lamb AS (
       |  SELECT CASE WHEN d.den > 0 THEN
       |    CAST(floor(CAST(n.num AS DOUBLE) / CAST(d.den AS DOUBLE) + 0.5) AS BIGINT)
       |  ELSE CAST(0 AS BIGINT) END AS lam6 FROM rnumb n, rdenb d),
       |ctr AS MATERIALIZED (
       |  SELECT c.vec_id, c.j AS k, c.qv - s.qm AS cv
       |  FROM comp c JOIN sums s ON s.j = c.j),
       |agg AS (
       |  SELECT ctr.vec_id,
       |    CAST(SUM(ctr.cv * va.v9) AS BIGINT) AS dot1,
       |    CAST(SUM(ctr.cv * vb.v9) AS BIGINT) AS dot2
       |  FROM ctr JOIN $vN va ON va.k = ctr.k JOIN $vbN vb ON vb.k = ctr.k
       |  GROUP BY ctr.vec_id)
       |SELECT a.vec_id,
       |  CASE WHEN l1.lam6 > 0 THEN
       |    CAST(a.dot1 AS DOUBLE) / 1.0e15 / sqrt(CAST(l1.lam6 AS DOUBLE) / 1.0e6)
       |  END AS w1,
       |  CASE WHEN l2.lam6 > 0 THEN
       |    CAST(a.dot2 AS DOUBLE) / 1.0e15 / sqrt(CAST(l2.lam6 AS DOUBLE) / 1.0e6)
       |  END AS w2
       |FROM agg a, lam l1, lamb l2 ORDER BY a.vec_id""".stripMargin
  }

  override val defs: Seq[(String, QueryDef)] = Seq(
    "emb_covariance" -> QueryDef(covariance, Some(covarianceSql)),
    "emb_top_pc" -> QueryDef(topPc, Some(topPcSql)),
    "emb_remove_top_pc" -> QueryDef(removeTopPc, Some(removeTopPcSql)),
    "emb_top_pc2" -> QueryDef(topPc2, Some(topPc2Sql)),
    "emb_pca_var_explained" -> QueryDef(varExplained, Some(varExplainedSql)),
    "emb_whiten_top2" -> QueryDef(whitenTop2, Some(whitenTop2Sql)),
  )
}
