package graft.llm

import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.core.{QueryDef, QueryGroup, Tables => T}

/** Spark ML MinHashLSH near-dup path (SURVEY.md capability matrix): the
  * library alternative to the hand-rolled md5 MinHash in [[Dedup]].
  * Deterministic under a fixed seed (hash coefficients) + HashingTF
  * (murmur3, stateless).
  *
  * Scale shape: approxSimilarityJoin only pairs rows that collide in a
  * hash band — the same bounded-candidates property as Dedup.minhashPairs,
  * delegated to the ML implementation.
  */
object MlLsh extends QueryGroup {

  /** Raw ML candidate pairs at `maxJaccardDist` (dist = 1 − Jaccard over
    * the hashed feature sets).
    *
    * Featurized from the CAPPED shingle set (Dedup.cappedShingleSet),
    * not the raw shingles: the verified query's membership argument
    * needs the ML-side Jaccard to estimate the SAME capped quantity the
    * exact side computes — on uncapped sets, boilerplate shingles past
    * the df-cap dilute the ML distance and a capped-Jaccard ≥ 0.8 pair
    * could sit beyond the join threshold and silently drop. */
  def minhashLshPairs(s: SparkSession, d: String,
      maxJaccardDist: Double = 0.7): DataFrame = {
    val docsSh = Dedup.cappedShingleSet(s, d)
      .groupBy(col("doc_id"))
      .agg(collect_set(col("sh").cast("string")).as("shs"))
    val tf = new HashingTF()
      .setInputCol("shs").setOutputCol("features")
      .setNumFeatures(1 << 18).setBinary(true)
    // read three times (fit + both sides of the self-join): cache so the
    // scan→shingle→collect_set→hashingTF chain runs once; released per
    // query by Release.storage like every dedup-family cache
    val feat = tf.transform(docsSh).filter(size(col("shs")) > 0).cache()
    val mh = new MinHashLSH()
      .setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(8).setSeed(42L)
    val model = mh.fit(feat)
    model.approxSimilarityJoin(feat, feat, maxJaccardDist, "jaccard_dist")
      .select(
        col("datasetA.doc_id").as("doc_a"),
        col("datasetB.doc_id").as("doc_b"),
        col("jaccard_dist"))
      .filter(col("doc_a") < col("doc_b"))
  }

  /** Registry query: ML candidates cross-checked against the portable
    * exact-Jaccard pipeline, which is what makes the result
    * oracle-gradable (the ML hash family itself — seeded murmur3 + ML's
    * coefficient RNG — is not DuckDB-replayable).
    *
    * Row set = exact capped-shingle Jaccard pairs ≥ 0.8 that the ML join
    * also surfaces. Both sides now measure the SAME capped sets, so the
    * banding bound applies directly: a true ≥0.8 pair misses all 8
    * tables with probability ≤ 0.2^8 ≈ 2.6e-6, the intersection
    * deterministically equals the exact set on the fixed test data, and
    * the oracle replays exactly that; a broken ML pipeline drops rows or
    * flips `ml_dist_ok` (|ML sim − exact capped Jaccard| ≤ 0.1 — slack
    * covers 2^18 feature-hash collisions). */
  def minhashLshVerified(s: SparkSession, d: String): DataFrame = {
    // both sides derive within this one timed query — the ML
    // fit/self-join and the exact capped-Jaccard pairs (the capped
    // shingle set underneath is cached by its own helper)
    val ml = minhashLshPairs(s, d, maxJaccardDist = 0.4)
    val exact = Dedup.jaccardPairs(s, d)
      .filter(col("jaccard") >= 0.8)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    exact.join(ml, Seq("doc_a", "doc_b"))
      .select(col("doc_a"), col("doc_b"),
        col("jaccard").cast(DecimalType(10, 4)).cast(DoubleType)
          .as("jaccard"),
        (abs(lit(1.0) - col("jaccard_dist") - col("jaccard")) <= 0.1)
          .as("ml_dist_ok"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val minhashLshVerifiedSql =
    s"""${Dedup.jaccardCte}
       |SELECT doc_a, doc_b,
       |  CAST(CAST(CAST(n_common AS DOUBLE) /
       |    CAST(sa.nsh + sb.nsh - n_common AS DOUBLE)
       |    AS DECIMAL(10,4)) AS DOUBLE) AS jaccard,
       |  TRUE AS ml_dist_ok
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE CAST(n_common AS DOUBLE) / CAST(sa.nsh + sb.nsh - n_common AS DOUBLE) >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin

  override val defs: Seq[(String, QueryDef)] = Seq(
    "dedup_minhash_ml" -> QueryDef(minhashLshVerified,
      Some(minhashLshVerifiedSql)))
}
