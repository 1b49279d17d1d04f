package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Relational widening batch: multi-dimensional aggregation (cube),
  * unpivot/melt, window frames (moving aggregates, lag/lead), rank
  * statistics, and the PQ-compressed ANN search. Determinism conventions
  * as in [[QueriesCdc]]: integer cents everywhere a value is aggregated;
  * rank-statistic doubles are exact IEEE divisions of integers (identical
  * in any engine); total orders under every window.
  */
object QueriesRelational {

  private def li(s: SparkSession, dir: String) = Tables.lineitem(s, dir)
  private def events(s: SparkSession, dir: String) = Tables.events(s, dir)
  private def emb(s: SparkSession, dir: String) = Tables.embeddings(s, dir)

  /** CUBE over (returnflag, linestatus) with grouping_id — all 4
    * grouping-set levels in one pass (Catalyst expands to a single
    * Expand + hash aggregate: one shuffle for every level at once, the
    * same plan shape a 100 TB rollup report wants).
    */
  def cubeAgg(s: SparkSession, dir: String): DataFrame =
    li(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"),
        count(lit(1)).as("n"),
        sum(round(col("l_quantity") * 100).cast("long")).as("qty_cents"))

  /** Unpivot (melt): one wide row → (metric, value) long form, the shape
    * feature-store exports want. Narrow (Expand node), no shuffle.
    */
  def unpivotMetrics(s: SparkSession, dir: String): DataFrame =
    li(s, dir)
      .filter(col("l_orderkey") % 200 === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_quantity") * 100).cast("long").as("qty_cents"),
        round(col("l_extendedprice") * 100).cast("long").as("price_cents"),
        round(col("l_discount") * 1000).cast("long").as("disc_milli"))
      .unpivot(
        ids = Array(col("l_orderkey"), col("l_linenumber")),
        values = Array(col("qty_cents"), col("price_cents"), col("disc_milli")),
        variableColumnName = "metric",
        valueColumnName = "value")

  /** Window frames: 7-row moving sum/min/max of value cents per user in
    * event order, plus lag/lead neighbors. One shuffle on user_id; frame
    * evaluation is a linear scan per partition.
    */
  def movingAgg(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val frame = w.rowsBetween(-6, 0)
    events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        round(col("value") * 100).cast("long").as("value_cents"))
      .select(col("event_id"), col("user_id"), col("value_cents"),
        sum(col("value_cents")).over(frame).as("mov_sum_cents"),
        max(col("value_cents")).over(frame).as("mov_max_cents"),
        count(lit(1)).over(frame).as("mov_n"),
        lag(col("event_id"), 1).over(w).as("prev_event"),
        lead(col("event_id"), 1).over(w).as("next_event"))
  }

  /** Rank statistics under a TOTAL order (value, id — ties would make
    * ntile nondeterministic otherwise): rank, dense_rank, ntile(4),
    * percent_rank and cume_dist per event_type. The doubles are exact
    * IEEE divisions of integers — identical across engines.
    */
  def rankStats(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value_cents"), col("event_id"))
    events(s, dir)
      .filter(col("event_type").isin("signup", "error"))
      .select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("value_cents"))
      .select(col("event_id"), col("event_type"), col("value_cents"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cdist"))
  }

  /** RANGE frame (value-based, not row-based): per-user sum/count of
    * purchases in the trailing ONE HOUR of event time — the "activity in
    * the last N minutes" shape. Row frames count rows; range frames bound
    * by the ORDER BY value, so ties and gaps behave correctly.
    */
  def rangeFrame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("tms"))
      .rangeBetween(-3600000L, 0L)
    events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        unix_millis(col("ts")).as("tms"),
        round(col("value") * 100).cast("long").as("value_cents"))
      .select(col("event_id"), col("user_id"), col("tms"),
        sum(col("value_cents")).over(w).as("hour_cents"),
        count(lit(1)).over(w).as("hour_n"))
  }

  /** TPC-H Q5-shaped 6-way join: region/nation dims broadcast, customer
    * bushy side, orders⋈lineitem the fact-fact hash join — the optimizer
    * stress shape (join reorder + broadcast selection + partial aggs).
    */
  def multiJoin(s: SparkSession, dir: String): DataFrame = {
    val r = Tables.region(s, dir).filter(col("r_name") === "ASIA")
    val n = Tables.nation(s, dir)
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    val l = li(s, dir)
    val sup = Tables.supplier(s, dir)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
        .cast("long")).as("revenue_cents"),
        count(lit(1)).as("n_items"))
  }

  /** EXISTS-style semi join: orders having at least one high-quantity
    * line (Catalyst plans a LeftSemi, no row duplication).
    */
  def existsSemi(s: SparkSession, dir: String): DataFrame = {
    val heavy = li(s, dir).filter(col("l_quantity") > 48).select(col("l_orderkey"))
    Tables.orders(s, dir)
      .join(heavy, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("total_cents"))
  }

  /** Correlated scalar subqueries (decorrelated by Catalyst into
    * aggregates + joins): customers whose balance exceeds their nation's
    * average. The above-average test is CROSS-MULTIPLIED onto exact
    * integer cents (bal × count > sum) — an FP average compare could
    * flip a borderline row between engines; integers cannot. SQL-text
    * form so the decorrelation rules themselves run.
    */
  def scalarSubquery(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("graft_rel_customer")
    s.sql(
      """SELECT c_custkey, c_nationkey,
        |  CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
        |FROM graft_rel_customer c1
        |WHERE CAST(ROUND(c_acctbal * 100) AS BIGINT) *
        |      (SELECT COUNT(*) FROM graft_rel_customer c2
        |       WHERE c2.c_nationkey = c1.c_nationkey)
        |    > (SELECT SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT))
        |       FROM graft_rel_customer c3
        |       WHERE c3.c_nationkey = c1.c_nationkey)""".stripMargin)
  }

  /** Ordered conversion funnel (sequence-pattern matching): per user, the
    * earliest signup → the earliest view AFTER it → the earliest purchase
    * after that, matched on strict event POSITION (row_number over
    * (ts, event_id)) so tie handling is identical in any engine. Output:
    * stage reached (1-3) + the matched positions. The classic
    * product-analytics funnel, built as one keyed window + three filtered
    * min-aggregates re-joined on user — every wide op shares the user_id
    * key, so the window exchange is reused and nothing reshuffles on a
    * new key.
    */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("tms"), col("event_id"))
    val e = events(s, dir)
      .filter(col("event_type").isin("signup", "view", "purchase"))
      .select(col("user_id"), col("event_type"), unix_millis(col("ts")).as("tms"),
        col("event_id"))
      .withColumn("rn", row_number().over(w).cast("long"))
    val s1 = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("rn")).as("r1"))
    val s2 = e.filter(col("event_type") === "view").join(s1, "user_id")
      .filter(col("rn") > col("r1"))
      .groupBy(col("user_id")).agg(min(col("rn")).as("r2"))
    val s3 = e.filter(col("event_type") === "purchase").join(s2, "user_id")
      .filter(col("rn") > col("r2"))
      .groupBy(col("user_id")).agg(min(col("rn")).as("r3"))
    s1.join(s2, Seq("user_id"), "left").join(s3, Seq("user_id"), "left")
      .select(col("user_id"), col("r1"), col("r2"), col("r3"),
        (lit(1L) + when(col("r2").isNotNull, 1L).otherwise(0L)
          + when(col("r3").isNotNull, 1L).otherwise(0L)).as("stage"))
  }

  /** PQ-compressed ANN: train per-subspace codebooks (deterministic
    * integer k-means), encode the corpus to 8 nibble codes, ADC-scan the
    * CODES (not the vectors) for candidates, exact-re-rank only the
    * candidate set. Candidates = half the corpus here so the correctness
    * gate equals exact top-k while the plan exercises the real
    * code-scan→re-rank shape; production tunes candidates ≪ corpus and
    * composes with IVF cell pruning ([[graft.analytics.Ivf]]).
    */
  /** The codebook q_pq_topk and q_ivfpq_topk both probe. Train-once,
    * probe-many is the PQ serving contract: [[graft.analytics.Pq
    * .trainCached]] fits it once per process and dataset content, so a
    * dataset refreshed under the same path retrains instead of serving
    * the stale model.
    */
  private[graft] def pqModel(e: DataFrame, dir: String): graft.analytics.Pq.Model =
    graft.analytics.Pq.trainCached(e, dir, col("vec_id"), col("embedding"), k = 32, iters = 8)

  def pqTopk(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val m = pqModel(e, dir)
    val codes = graft.analytics.Pq.encode(
      e.filter(col("vec_id") =!= 1), col("vec_id"), col("embedding"), m)
    val query = e.filter(col("vec_id") === 1)
      .select(graft.analytics.Similarity.quantize(col("embedding")).as("q"))
      .collect()(0).getAs[Seq[Long]]("q").toIndexedSeq
    val n = e.filter(col("vec_id") =!= 1).count() // corpus size: cheap parquet count
    graft.analytics.Pq.searchTopK(
      e.filter(col("vec_id") =!= 1), col("vec_id"), col("embedding"),
      codes, m, query, candidates = math.max(50, (n / 2).toInt), k = 12)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_cube" -> cubeAgg _,
    "q_unpivot" -> unpivotMetrics _,
    "q_moving_agg" -> movingAgg _,
    "q_rank_stats" -> rankStats _,
    "q_range_frame" -> rangeFrame _,
    "q_multi_join" -> multiJoin _,
    "q_exists_semi" -> existsSemi _,
    "q_funnel" -> funnel _,
    "q_scalar_subq" -> scalarSubquery _,
    "q_pq_topk" -> pqTopk _)

  val oracleSql: Map[String, String] = Map(
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,

    "q_unpivot" ->
      """WITH b AS (SELECT l_orderkey, l_linenumber,
        |  CAST(ROUND(l_quantity * 100) AS BIGINT) AS qty_cents,
        |  CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_cents,
        |  CAST(ROUND(l_discount * 1000) AS BIGINT) AS disc_milli
        |  FROM lineitem WHERE l_orderkey % 200 = 0)
        |SELECT l_orderkey, l_linenumber, 'qty_cents' AS metric, qty_cents AS value FROM b
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'price_cents', price_cents FROM b
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'disc_milli', disc_milli FROM b""".stripMargin,

    "q_moving_agg" ->
      """WITH b AS (SELECT event_id, user_id,
        |  CAST(ROUND(value * 100) AS BIGINT) AS value_cents
        |  FROM events WHERE event_type = 'purchase')
        |SELECT event_id, user_id, value_cents,
        |  CAST(SUM(value_cents) OVER w7 AS BIGINT) AS mov_sum_cents,
        |  CAST(MAX(value_cents) OVER w7 AS BIGINT) AS mov_max_cents,
        |  CAST(COUNT(*) OVER w7 AS BIGINT) AS mov_n,
        |  LAG(event_id, 1) OVER w AS prev_event,
        |  LEAD(event_id, 1) OVER w AS next_event
        |FROM b
        |WINDOW
        |  w7 AS (PARTITION BY user_id ORDER BY event_id
        |         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
        |  w AS (PARTITION BY user_id ORDER BY event_id)""".stripMargin,

    "q_rank_stats" ->
      """WITH b AS (SELECT event_id, event_type,
        |  CAST(ROUND(value * 100) AS BIGINT) AS value_cents
        |  FROM events WHERE event_type IN ('signup', 'error'))
        |SELECT event_id, event_type, value_cents,
        |  CAST(RANK() OVER w AS BIGINT) AS rnk,
        |  CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
        |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
        |  PERCENT_RANK() OVER w AS pct_rank,
        |  CUME_DIST() OVER w AS cdist
        |FROM b
        |WINDOW w AS (PARTITION BY event_type ORDER BY value_cents, event_id)""".stripMargin,

    "q_range_frame" ->
      """WITH b AS (SELECT event_id, user_id, epoch_ms(ts) AS tms,
        |  CAST(ROUND(value * 100) AS BIGINT) AS value_cents
        |  FROM events WHERE event_type = 'purchase')
        |SELECT event_id, user_id, tms,
        |  CAST(SUM(value_cents) OVER w AS BIGINT) AS hour_cents,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS hour_n
        |FROM b
        |WINDOW w AS (PARTITION BY user_id ORDER BY tms
        |             RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q_multi_join" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name""".stripMargin,

    "q_exists_semi" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(ROUND(o_totalprice * 100) AS BIGINT) AS total_cents
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 48)""".stripMargin,

    "q_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_ms(ts), event_id) AS BIGINT) AS rn
        |  FROM events WHERE event_type IN ('signup', 'view', 'purchase')),
        |a1 AS (SELECT user_id, MIN(rn) AS r1 FROM e
        |       WHERE event_type = 'signup' GROUP BY user_id),
        |a2 AS (SELECT e.user_id, MIN(rn) AS r2 FROM e JOIN a1 USING (user_id)
        |       WHERE event_type = 'view' AND rn > r1 GROUP BY e.user_id),
        |a3 AS (SELECT e.user_id, MIN(rn) AS r3 FROM e JOIN a2 USING (user_id)
        |       WHERE event_type = 'purchase' AND rn > r2 GROUP BY e.user_id)
        |SELECT a1.user_id, r1, r2, r3,
        |  CAST(1 + (CASE WHEN r2 IS NOT NULL THEN 1 ELSE 0 END)
        |    + (CASE WHEN r3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS stage
        |FROM a1 LEFT JOIN a2 USING (user_id) LEFT JOIN a3 USING (user_id)""".stripMargin,

    "q_scalar_subq" ->
      """SELECT c_custkey, c_nationkey,
        |  CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
        |FROM customer c1
        |WHERE CAST(ROUND(c_acctbal * 100) AS BIGINT) *
        |      (SELECT COUNT(*) FROM customer c2
        |       WHERE c2.c_nationkey = c1.c_nationkey)
        |    > (SELECT CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |       FROM customer c3
        |       WHERE c3.c_nationkey = c1.c_nationkey)""".stripMargin,

    // candidates >= corpus/2 makes the PQ path exact on the gate data:
    // the oracle is plain brute-force top-12 for query vector 1
    "q_pq_topk" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1)
        |SELECT e.vec_id,
        |  CAST(SUM(CAST(ROUND(CAST(e.embedding[CAST(g.i AS INT)] AS DOUBLE) * 1000) AS BIGINT)
        |         * CAST(ROUND(CAST(q.qv[CAST(g.i AS INT)] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT) AS dot
        |FROM embeddings e, q, generate_series(1, 64) g(i)
        |WHERE e.vec_id <> 1
        |GROUP BY e.vec_id ORDER BY dot DESC, vec_id LIMIT 12""".stripMargin)
}
