package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.core.{Materialize, QueryDef, QueryGroup, Tables => T}

/** Frequent-itemset mining over order baskets — the A-priori shape
  * (Agrawal & Srikant 1994) as declarative joins, never a lattice walk:
  *
  *  - a basket is an order's DISTINCT item set, item = `brand/type`
  *    (the part key itself is unbounded and near-unique per basket —
  *    mining co-occurrence needs a bounded item vocabulary);
  *  - the A-PRIORI PRUNE is structural, not cosmetic: items below the
  *    2 % support floor (an integer comparison, `cnt·50 ≥ N` — never a
  *    rounded percentage) are removed BEFORE the pair join, because a
  *    pair of a infrequent item cannot be frequent. At 100 TB the item
  *    distribution is Zipf and the prune is what keeps the per-basket
  *    pair fan-out away from the long tail;
  *  - pair candidates come from a basket-keyed self-join (`a.it < b.it`)
  *    — fan-out is C(basket,2) per ORDER, never corpus²; basket size is
  *    bounded by order line count;
  *  - output is rank-bounded: top-[[TopK]] by (support DESC, item_a,
  *    item_b) via TakeOrderedAndProject — a total order, so the cut at
  *    rank k is deterministic in both engines.
  *
  * Arithmetic: supports are exact BIGINT counts; lift and confidence
  * are ONE IEEE division each of exact integer products (≤ 2⁵³, so the
  * long→double conversions are exact) — bit-stable across engines.
  */
object Mining extends QueryGroup {

  /** Item support floor: frequent ⇔ cnt·[[SuppDen]] ≥ N (= 2 %). */
  private val SuppDen = 50
  private val TopK = 25

  /** One row per order: its DISTINCT item set as an array. ONE exchange
    * (by order); set order is nondeterministic but everything downstream
    * is order-free (pair generation sorts `x < y`, counts are set
    * cardinalities). */
  private def basketArrays(s: SparkSession, d: String): DataFrame =
    T.lineitem(s, d).select(col("l_orderkey").as("o"), col("l_partkey"))
      .join(T.part(s, d).select(col("p_partkey"),
        concat_ws("/", col("p_brand"), col("p_type")).as("it")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("o")).agg(collect_set(col("it")).as("its"))

  /** Frequent pairs with both item supports and lift — `mine_pairs` and
    * `mine_assoc_rules` both start from it. Columns:
    * (ia, ib, pair_cnt, supp_a, supp_b, n_orders, lift). */
  private[graft] def liftedPairs(s: SparkSession, d: String): DataFrame = {
    // the basket-array relation feeds n / supp / pairs — cut once
    val b = Materialize.cut(basketArrays(s, d))
    val n = b.agg(count(lit(1)).as("n_orders"))
    val supp = b.select(explode(col("its")).as("it"))
      .groupBy(col("it")).agg(count(lit(1)).as("cnt"))
    // item-vocabulary-bounded (and further pruned) → broadcast always fits
    val freq = supp.crossJoin(broadcast(n))
      .filter(col("cnt") * SuppDen >= col("n_orders"))
      .select(col("it"), col("cnt"))
    val freqArr = freq.agg(collect_list(col("it")).as("fitems"))
    // pair generation is a NARROW codegen'd array transform per basket —
    // prune to frequent items, then every x<y pair from the basket's own
    // array; no self-join, fan-out C(basket, 2) per row
    b.crossJoin(broadcast(freqArr))
      .withColumn("pruned",
        filter(col("its"), x => array_contains(col("fitems"), x)))
      .select(explode(flatten(transform(col("pruned"), x =>
        transform(filter(col("pruned"), y => y > x),
          y => struct(x.as("x"), y.as("y")))))).as("p"))
      .select(col("p.x").as("ia"), col("p.y").as("ib"))
      .groupBy(col("ia"), col("ib"))
      .agg(count(lit(1)).as("pair_cnt"))
      .join(broadcast(freq.select(col("it").as("ia"), col("cnt").as("supp_a"))),
        Seq("ia"))
      .join(broadcast(freq.select(col("it").as("ib"), col("cnt").as("supp_b"))),
        Seq("ib"))
      .crossJoin(broadcast(n))
      .withColumn("lift",
        (col("pair_cnt") * col("n_orders")).cast(DoubleType) /
          (col("supp_a") * col("supp_b")).cast(DoubleType))
  }

  private def minePairs(s: SparkSession, d: String): DataFrame =
    liftedPairs(s, d)
      .select(col("ia").as("item_a"), col("ib").as("item_b"),
        col("pair_cnt"), col("supp_a"), col("supp_b"), col("lift"))
      .orderBy(col("pair_cnt").desc, col("item_a"), col("item_b"))
      .limit(TopK)

  /** Association rules: each frequent pair in both directions, ranked by
    * confidence = pair_cnt / supp(antecedent). Lift is direction-free. */
  private def mineRules(s: SparkSession, d: String): DataFrame = {
    // r16: both rule directions come from ONE narrow explode per pair
    // row — the former fwd ∪ rev union cloned the whole inline
    // frequent-pair derivation into each branch (identical rows: each
    // pair emits exactly its two directed rules)
    val lp = liftedPairs(s, d)
    lp.select(explode(array(
        struct(col("ia").as("antecedent"), col("ib").as("consequent"),
          col("pair_cnt"), col("supp_a").as("supp_ante"), col("lift")),
        struct(col("ib").as("antecedent"), col("ia").as("consequent"),
          col("pair_cnt"), col("supp_b").as("supp_ante"), col("lift"))))
        .as("r"))
      .select(col("r.antecedent").as("antecedent"),
        col("r.consequent").as("consequent"), col("r.pair_cnt").as("pair_cnt"),
        col("r.supp_ante").as("supp_ante"), col("r.lift").as("lift"))
      .withColumn("conf",
        col("pair_cnt").cast(DoubleType) / col("supp_ante").cast(DoubleType))
      .orderBy(col("conf").desc, col("antecedent"), col("consequent"))
      .limit(TopK)
      .select(col("antecedent"), col("consequent"), col("pair_cnt"),
        col("supp_ante"), col("conf"), col("lift"))
  }

  // shared CTE prefix of both oracles (baskets MATERIALIZED: referenced
  // by n, supp, and the pair join — inlined it re-plans the scan thrice)
  private val minePrefix =
    s"""WITH baskets AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS o, p_brand || '/' || p_type AS it
       |  FROM lineitem JOIN part ON p_partkey = l_partkey),
       |n AS (SELECT COUNT(DISTINCT o) AS n_orders FROM baskets),
       |supp AS (SELECT it, COUNT(*) AS cnt FROM baskets GROUP BY it),
       |freq AS MATERIALIZED (
       |  SELECT it, cnt FROM supp
       |  WHERE cnt * $SuppDen >= (SELECT n_orders FROM n)),
       |fb AS (SELECT b.o, b.it FROM baskets b JOIN freq f ON f.it = b.it),
       |pairs AS (
       |  SELECT a.it AS ia, c.it AS ib, COUNT(*) AS pair_cnt
       |  FROM fb a JOIN fb c ON a.o = c.o AND a.it < c.it
       |  GROUP BY 1, 2),
       |lifted AS MATERIALIZED (
       |  SELECT ia, ib, pair_cnt, s1.cnt AS supp_a, s2.cnt AS supp_b,
       |    CAST(pair_cnt * (SELECT n_orders FROM n) AS DOUBLE) /
       |      CAST(s1.cnt * s2.cnt AS DOUBLE) AS lift
       |  FROM pairs JOIN freq s1 ON s1.it = ia JOIN freq s2 ON s2.it = ib)""".stripMargin

  private val minePairsSql =
    s"""$minePrefix
       |SELECT ia AS item_a, ib AS item_b, pair_cnt, supp_a, supp_b, lift
       |FROM lifted
       |ORDER BY pair_cnt DESC, item_a, item_b LIMIT $TopK""".stripMargin

  private val mineRulesSql =
    s"""$minePrefix
       |SELECT antecedent, consequent, pair_cnt, supp_ante,
       |  CAST(pair_cnt AS DOUBLE) / CAST(supp_ante AS DOUBLE) AS conf, lift
       |FROM (
       |  SELECT ia AS antecedent, ib AS consequent, pair_cnt,
       |    supp_a AS supp_ante, lift FROM lifted
       |  UNION ALL
       |  SELECT ib, ia, pair_cnt, supp_b, lift FROM lifted)
       |ORDER BY conf DESC, antecedent, consequent LIMIT $TopK""".stripMargin

  // ---- mine_seq_triples: sequential patterns over user event streams ----
  // The ORDERED counterpart of the basket pairs (and the trigram extension
  // of q56's transition matrix): which contiguous event-type sequences
  // a→b→c recur across user journeys. Contiguous n-grams via two lead()s
  // over ONE (user; ts, event_id) exchange+sort — the window streams, so
  // a power-user's million-event history never materializes as an array
  // (the collect_list formulation would). Support counts DISTINCT users
  // (a pattern one user loops a thousand times is one vote), occurrences
  // count raw windows; both are exact BIGINTs and the candidate space is
  // |event types|³-bounded, so the aggregation output is vocabulary-scale
  // regardless of corpus size. Top-20 under a total order.
  private def seqTriples(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    T.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("a"))
      .withColumn("b", lead(col("a"), 1).over(w))
      .withColumn("c", lead(col("a"), 2).over(w))
      .filter(col("b").isNotNull && col("c").isNotNull)
      .groupBy(col("a"), col("b"), col("c"))
      .agg(countDistinct(col("user_id")).as("support"),
        count(lit(1)).as("occurrences"))
      .orderBy(col("support").desc, col("occurrences").desc,
        col("a"), col("b"), col("c"))
      .limit(20)
  }

  private val seqTriplesSql =
    """WITH e AS (
      |  SELECT user_id, event_type AS a,
      |    LEAD(event_type, 1) OVER w AS b,
      |    LEAD(event_type, 2) OVER w AS c
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id))
      |SELECT a, b, c, COUNT(DISTINCT user_id) AS support,
      |  COUNT(*) AS occurrences
      |FROM e WHERE b IS NOT NULL AND c IS NOT NULL
      |GROUP BY a, b, c
      |ORDER BY support DESC, occurrences DESC, a, b, c LIMIT 20""".stripMargin

  override val defs: Seq[(String, QueryDef)] = Seq(
    "mine_pairs" -> QueryDef(minePairs, Some(minePairsSql)),
    "mine_assoc_rules" -> QueryDef(mineRules, Some(mineRulesSql)),
    "mine_seq_triples" -> QueryDef(seqTriples, Some(seqTriplesSql)),
  )
}
