package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] has a DuckDB oracle in [[oracleSql]] with
  * IDENTICAL column names and aligned types (derived ints → BIGINT, double
  * sums → integer cents, timestamps → epoch-ms BIGINT or DATE).
  */
object SparkEntry {

  /** Flagship: the reference's spine — snapshot scan → row filter →
    * projection → row-key → CF-JSON encode — on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    import graft.core.{RowKey, Tables}
    import graft.encode.CommonFormatJson
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    Tables.lineitem(spark, dir)
      .filter(col("l_quantity") > 10)
      .select(col("l_orderkey"), col("l_linenumber"),
        RowKey.rowKey(Seq(col("l_orderkey"), col("l_linenumber"))),
        CommonFormatJson.insertJson(
          Seq(col("l_orderkey") -> LongType, col("l_linenumber") -> IntegerType),
          col("l_orderkey") * 10 + col("l_linenumber"), lit(0L),
          Seq(("l_returnflag", col("l_returnflag"), StringType))).as("cf_json"))
  }

  /** One entry per implemented operator from SURVEY.md §2 + analytics. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    QueriesCdc.queries ++ QueriesAnalytics.queries ++ QueriesExtra.queries ++
      QueriesQuality.queries ++ QueriesPipes.queries ++ QueriesTraining.queries ++
      QueriesRelational.queries ++ QueriesLayout.queries ++ QueriesGraph.queries ++
      QueriesIncremental.queries

  // ------------------------------------------------------------------------
  // DuckDB oracles (dialect: DuckDB 1.0). Shared determinism conventions
  // with the Spark side — see QueriesCdc scaladoc.
  // ------------------------------------------------------------------------

  private val centsSum = "CAST(SUM(CAST(ROUND(%s) AS BIGINT)) AS BIGINT)"

  /** Shared CTE: one md5 per 8-char shingle, 8 hash functions as 4-char
    * hex rotations, all mins in one grouped pass (mirrors
    * Dedup.minhashWide).
    */
  private val minhashSigCte =
    """WITH sh AS (
      |  SELECT doc_id, md5(substr(text, CAST(i AS INT), 8)) AS h FROM (
      |    SELECT doc_id, text, unnest(generate_series(1, greatest(length(text) - 7, 1))) AS i
      |    FROM documents)),
      |sig AS (SELECT doc_id,
      |  MIN(h) AS m0,
      |  MIN(substr(h, 5, 28) || substr(h, 1, 4)) AS m1,
      |  MIN(substr(h, 9, 24) || substr(h, 1, 8)) AS m2,
      |  MIN(substr(h, 13, 20) || substr(h, 1, 12)) AS m3,
      |  MIN(substr(h, 17, 16) || substr(h, 1, 16)) AS m4,
      |  MIN(substr(h, 21, 12) || substr(h, 1, 20)) AS m5,
      |  MIN(substr(h, 25, 8) || substr(h, 1, 24)) AS m6,
      |  MIN(substr(h, 29, 4) || substr(h, 1, 28)) AS m7
      |FROM sh GROUP BY doc_id)""".stripMargin

  private val binlogReplayOracle: String =
    """SELECT event_id,
      |  '00000000-0000-0000-0000-00000000000' || CAST(user_id % 4 AS VARCHAR) AS gtid_uuid,
      |  row_number() OVER (PARTITION BY user_id % 4 ORDER BY event_id) AS gno,
      |  CASE event_type WHEN 'signup' THEN 'insert'
      |                  WHEN 'click' THEN 'update'
      |                  ELSE 'delete' END AS op,
      |  user_id,
      |  event_type AS etype,
      |  CAST(ROUND(value * 100) AS BIGINT) AS value_cents,
      |  CAST(CAST(CAST(ROUND(value * 100) AS BIGINT) / 100.0 AS DECIMAL(12,2)) AS VARCHAR) AS value_dec,
      |  CASE WHEN event_type = 'click'
      |       THEN CAST(ROUND(value * 100) AS BIGINT) - 1 END AS before_cents
      |FROM events WHERE event_type IN ('signup', 'click', 'error')""".stripMargin

  /** The DuckDB oracles for a run over `dir`. Data-dependent oracles
    * carry literals from the model their query trained when it ran on
    * that very dir string (Verify runs queries before dumping SQL); a
    * dir their query never ran on has no entry for them.
    */
  def oracleSql(dir: String): Map[String, String] =
    QueriesExtra.oracleSql ++ QueriesQuality.oracleSql ++
      QueriesPipes.oracleSql ++ QueriesTraining.oracleSql ++
      QueriesRelational.oracleSql ++ QueriesLayout.oracleSql ++
      QueriesGraph.oracleSql ++ QueriesIncremental.oracleSql ++
      // q_pca_project: the trained quantized mean/components
      graft.analytics.PcaModels.oracleEntries(dir) ++
      // q_contrastive_ivf: the trained coarse-centroid literals
      ContrastiveIvfOracle.oracleEntries(dir) ++
      // q_bpe_tokenize / q_tokenize_apply: the trained merge list as a
      // literal replace chain
      BpeOracle.oracleEntries(dir) ++
      // q_lr_quality: the trained LR weights as BIGINT literals over
      // DuckDB-recomputed mills features
      graft.analytics.LogRegModels.oracleEntries(dir) ++ Map(
    "q_snapshot_scan" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity > 30 AND l_returnflag = 'R'""".stripMargin,

    "q_snapshot_rowfilter" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
        |FROM lineitem
        |WHERE (l_returnflag = 'A' OR l_returnflag = 'N') AND (l_quantity > 45)""".stripMargin,

    "q_projection_pk" ->
      """SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_date
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '1996-01-01 00:00:00'""".stripMargin,

    "q_changelog_expand" ->
      """SELECT event_id, 'insert' AS op, CAST(1 AS BIGINT) AS half, user_id, value
        |FROM events WHERE event_type = 'signup'
        |UNION ALL
        |SELECT event_id, 'delete', CAST(0 AS BIGINT), user_id, value
        |FROM events WHERE event_type = 'click'
        |UNION ALL
        |SELECT event_id, 'insert', CAST(1 AS BIGINT), user_id, value
        |FROM events WHERE event_type = 'click'
        |UNION ALL
        |SELECT event_id, 'delete', CAST(0 AS BIGINT), user_id, value
        |FROM events WHERE event_type = 'error'""".stripMargin,

    "q_event_gate" ->
      """SELECT event_id, 'insert' AS op, user_id
        |FROM events WHERE event_type IN ('signup', 'click')
        |UNION ALL
        |SELECT event_id, 'delete', user_id FROM events WHERE event_type = 'error'""".stripMargin,

    "q_route_registered" ->
      """SELECT event_id, user_id, event_type FROM events
        |WHERE user_id IN (1,2,3,5,8,13,21,34)""".stripMargin,

    "q_seqno_assign" ->
      """SELECT event_id, user_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seqno
        |FROM events""".stripMargin,

    "q_row_key" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(LENGTH(CAST(l_orderkey AS VARCHAR)) AS VARCHAR) || CAST(l_orderkey AS VARCHAR)
        |  || CAST(LENGTH(CAST(l_linenumber AS VARCHAR)) AS VARCHAR) || CAST(l_linenumber AS VARCHAR)
        |  AS row_key
        |FROM lineitem""".stripMargin,

    "q_partition_key" ->
      """SELECT l_orderkey % 32 AS pkey, COUNT(*) AS n FROM lineitem GROUP BY 1""".stripMargin,

    "q_cf_json" ->
      """SELECT l_orderkey, l_linenumber,
        |  '{"Type":"insert","Key":[' || CAST(l_orderkey AS VARCHAR) || ','
        |  || CAST(l_linenumber AS VARCHAR) || '],"SeqNo":'
        |  || CAST(l_orderkey * 10 + l_linenumber AS VARCHAR)
        |  || ',"Timestamp":0,"Fields":[{"Name":"l_returnflag","Value":"' || l_returnflag
        |  || '"},{"Name":"l_linestatus","Value":"' || l_linestatus || '"}]}' AS cf_json
        |FROM lineitem WHERE l_orderkey % 100 = 0""".stripMargin,

    "q_sql_dml" ->
      """SELECT l_orderkey, l_linenumber,
        |  'INSERT INTO "lineitem" ("seqno","l_orderkey","l_linenumber","l_returnflag") VALUES ('
        |  || CAST(l_orderkey * 10 + l_linenumber AS VARCHAR) || ','
        |  || CAST(l_orderkey AS VARCHAR) || ',' || CAST(l_linenumber AS VARCHAR) || ','''
        |  || REPLACE(l_returnflag, '''', '''''') || ''');' AS stmt
        |FROM lineitem WHERE l_orderkey % 50 = 0""".stripMargin,

    "q_sql_dml_idempotent" ->
      """SELECT l_orderkey, l_linenumber,
        |  'INSERT INTO "lineitem" ("seqno","l_orderkey","l_linenumber","l_returnflag") VALUES ('
        |  || CAST(l_orderkey * 10 + l_linenumber AS VARCHAR) || ','
        |  || CAST(l_orderkey AS VARCHAR) || ',' || CAST(l_linenumber AS VARCHAR) || ','''
        |  || REPLACE(l_returnflag, '''', '''''') || ''')'
        |  || ' ON DUPLICATE KEY UPDATE "l_returnflag"= IF(seqno < VALUES(seqno), VALUES("l_returnflag"),"l_returnflag"), seqno = IF(seqno < VALUES(seqno), VALUES(seqno), seqno);' AS stmt
        |FROM lineitem WHERE l_orderkey % 50 = 0""".stripMargin,

    "q_type_norm" ->
      """SELECT l_orderkey, l_linenumber, CAST(l_quantity AS BIGINT) AS qty_int,
        |  CAST(l_orderkey AS VARCHAR) AS ok_str, CAST(l_shipdate AS DATE) AS ship_date,
        |  (l_linenumber = 1) AS is_first
        |FROM lineitem WHERE l_orderkey % 50 = 0""".stripMargin,

    "q_fanout" ->
      """SELECT event_id, 'kafka' AS sink FROM events WHERE event_type = 'signup'
        |UNION ALL
        |SELECT event_id, 'file' FROM events WHERE event_type = 'signup'""".stripMargin,

    "q_handoff_merge" ->
      """WITH u AS (
        |  SELECT user_id, event_id, value, epoch_ms(ts) AS tms,
        |    CASE WHEN epoch_ms(ts) < 1705276800000 THEN 'snapshot' ELSE 'log' END AS src
        |  FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY tms DESC, event_id DESC) AS rn FROM u)
        |SELECT user_id, value AS last_value, src, event_id AS last_event FROM r WHERE rn = 1""".stripMargin,

    "q_changelog_native" ->
      """SELECT event_id,
        |  '00000000-0000-0000-0000-00000000000' || CAST(user_id % 4 AS VARCHAR) AS gtid_uuid,
        |  row_number() OVER (PARTITION BY user_id % 4 ORDER BY event_id) AS gno,
        |  CASE event_type WHEN 'signup' THEN 'insert'
        |                  WHEN 'click' THEN 'update'
        |                  ELSE 'delete' END AS op,
        |  user_id,
        |  CAST(ROUND(value * 100) AS BIGINT) AS value_cents
        |FROM events WHERE event_type IN ('signup', 'click', 'error')""".stripMargin,

    "q_binlog_binary" -> binlogReplayOracle,
    // identical contract through the replication SOCKET instead of the
    // file: same demux output, so the same oracle gates it
    "q_changelog_socket" -> binlogReplayOracle,

    // the DDL-through-the-socket run: rows at or below the median
    // event_id were processed under the 4-column pre-ALTER schema
    // (value_dec NULL), rows above under the 5-column post-ALTER schema
    "q_ddl_socket" ->
      """WITH base AS (
        |  SELECT event_id, user_id, event_type AS etype,
        |         CAST(ROUND(value * 100) AS BIGINT) AS value_cents
        |  FROM events WHERE event_type IN ('signup', 'click')),
        |thr AS (SELECT MAX(event_id) // 2 AS t FROM base)
        |SELECT event_id,
        |  '00000000-0000-0000-0000-00000000000' || CAST(user_id % 4 AS VARCHAR) AS gtid_uuid,
        |  row_number() OVER (PARTITION BY user_id % 4 ORDER BY event_id) AS gno,
        |  user_id, etype, value_cents,
        |  CASE WHEN event_id > t
        |       THEN CAST(CAST(value_cents / 100.0 AS DECIMAL(12,2)) AS VARCHAR) END AS value_dec,
        |  CAST(CASE WHEN event_id > t THEN 5 ELSE 4 END AS BIGINT) AS n_schema_cols
        |FROM base, thr""".stripMargin,

    "q_kafka_roundtrip" ->
      """SELECT CAST(user_id % 8 AS BIGINT) AS partition,
        |  row_number() OVER (PARTITION BY user_id % 8 ORDER BY event_id) - 1 AS offset,
        |  user_id, event_id,
        |  CAST(ROUND(value * 100) AS BIGINT) AS value_cents
        |FROM events WHERE event_type IN ('purchase', 'view')""".stripMargin,
    // rate limiting changes WHEN rows arrive, never WHICH rows: the
    // plain-roundtrip oracle gates the adaptively-throttled drain
    "q_rate_limited" ->
      """SELECT CAST(user_id % 8 AS BIGINT) AS partition,
        |  row_number() OVER (PARTITION BY user_id % 8 ORDER BY event_id) - 1 AS offset,
        |  user_id, event_id,
        |  CAST(ROUND(value * 100) AS BIGINT) AS value_cents
        |FROM events WHERE event_type IN ('purchase', 'view')""".stripMargin,
    // consumer-group redistribution (join / graceful leave / crash /
    // rejoin) must change WHO consumes, never WHAT: the round-trip
    // oracle gates it; the crash leg's permitted redeliveries collapse
    // under the query's by-(partition,offset) last-delivery-wins
    "q_group_rebalance" ->
      """SELECT CAST(user_id % 8 AS BIGINT) AS partition,
        |  row_number() OVER (PARTITION BY user_id % 8 ORDER BY event_id) - 1 AS offset,
        |  user_id, event_id,
        |  CAST(ROUND(value * 100) AS BIGINT) AS value_cents
        |FROM events WHERE event_type IN ('purchase', 'view')""".stripMargin,
    // the same redistribution composed with the DSv2 source (group-mode
    // planInputPartitions, members re-split per trigger): identical
    // roundtrip contract, so the identical oracle gates it
    "q_group_stream" ->
      """SELECT CAST(user_id % 8 AS BIGINT) AS partition,
        |  row_number() OVER (PARTITION BY user_id % 8 ORDER BY event_id) - 1 AS offset,
        |  user_id, event_id,
        |  CAST(ROUND(value * 100) AS BIGINT) AS value_cents
        |FROM events WHERE event_type IN ('purchase', 'view')""".stripMargin,
    // identical round-trip contract over the real Kafka wire protocol
    // (loopback broker, checkpointed restart between the two produced
    // halves), so the same oracle gates it
    "q_kafka_socket" ->
      """SELECT CAST(user_id % 8 AS BIGINT) AS partition,
        |  row_number() OVER (PARTITION BY user_id % 8 ORDER BY event_id) - 1 AS offset,
        |  user_id, event_id,
        |  CAST(ROUND(value * 100) AS BIGINT) AS value_cents
        |FROM events WHERE event_type IN ('purchase', 'view')""".stripMargin,

    "q_stream_window" ->
      """SELECT epoch_ms(date_trunc('hour', ts)) AS win_start_ms, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_stream_dedup" ->
      """SELECT user_id, event_id, CAST(ROUND(value * 100) AS BIGINT) AS value_cents
        |FROM (SELECT user_id, event_id, value,
        |        row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        |      FROM events)
        |WHERE rn = 1""".stripMargin,

    "q_stream_session" ->
      """WITH b AS (SELECT user_id, event_id, epoch_ms(ts) AS tms,
        |  CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events),
        |o AS (SELECT *, LAG(tms) OVER (PARTITION BY user_id ORDER BY tms, event_id) AS prev FROM b),
        |m AS (SELECT *, CASE WHEN prev IS NULL OR tms - prev > 1800000 THEN 1 ELSE 0 END AS brk FROM o),
        |sid AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY tms, event_id
        |        ROWS UNBOUNDED PRECEDING) AS sess FROM m)
        |SELECT user_id, MIN(tms) AS session_start_ms,
        |  MAX(tms) + 1800000 AS session_end_ms,
        |  COUNT(*) AS n_events, CAST(SUM(cents) AS BIGINT) AS cents,
        |  MIN(event_id) AS first_event, MAX(event_id) AS last_event
        |FROM sid GROUP BY user_id, sess""".stripMargin,

    "q_stream_join" ->
      """SELECT a.user_id, a.event_id AS view_id, b.event_id AS purchase_id,
        |  epoch_ms(b.ts) - epoch_ms(a.ts) AS lag_ms
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND a.event_type = 'view' AND b.event_type = 'purchase'
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 12 HOUR""".stripMargin,

    "q_stream_retract" ->
      """SELECT user_id,
        |  CAST(SUM(CASE event_type WHEN 'signup' THEN 1
        |                           WHEN 'error' THEN -1 ELSE 0 END) AS BIGINT) AS n_live,
        |  CAST(SUM(CASE event_type
        |             WHEN 'signup' THEN CAST(ROUND(value * 100) AS BIGINT)
        |             WHEN 'click' THEN 1
        |             ELSE -CAST(ROUND(value * 100) AS BIGINT) END) AS BIGINT) AS net_cents
        |FROM events WHERE event_type IN ('signup', 'click', 'error')
        |GROUP BY user_id""".stripMargin,

    "q_stream_enrich" ->
      """WITH dim AS (
        |  SELECT user_id, CAST(CAST(MIN(ts) AS DATE) AS VARCHAR) AS first_seen,
        |    COUNT(DISTINCT event_type) AS n_types
        |  FROM events GROUP BY user_id)
        |SELECT e.user_id, e.event_id, CAST(ROUND(e.value * 100) AS BIGINT) AS cents,
        |  d.first_seen, d.n_types
        |FROM events e JOIN dim d ON d.user_id = e.user_id
        |WHERE e.event_type = 'purchase'""".stripMargin,

    "q_state_join" ->
      s"""SELECT r_name, n_name, COUNT(*) AS n_cust,
         |  ${centsSum.format("c_acctbal * 100")} AS bal_cents
         |FROM customer
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name, n_name""".stripMargin,

    "q1_agg" ->
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
         |  ${centsSum.format("l_quantity * 100")} AS qty_cents,
         |  ${centsSum.format("l_extendedprice * 100")} AS price_cents,
         |  ${centsSum.format("l_discount * 10000")} AS disc_bps
         |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q3_join_topk" ->
      s"""SELECT l_orderkey,
         |  ${centsSum.format("(l_extendedprice * (1 - l_discount)) * 100")} AS rev_cents
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |GROUP BY l_orderkey ORDER BY rev_cents DESC, l_orderkey LIMIT 10""".stripMargin,

    "q_rollup" ->
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
         |  ${centsSum.format("l_quantity * 100")} AS qty_cents,
         |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g1,
         |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g2
         |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,

    "q_window_events" ->
      s"""SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, event_type, COUNT(*) AS n,
         |  ${centsSum.format("value * 100")} AS value_cents
         |FROM events GROUP BY 1, 2""".stripMargin,

    "q_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS tms FROM events),
        |l AS (SELECT *, LAG(tms) OVER (PARTITION BY user_id ORDER BY tms, event_id) AS prev FROM e),
        |s AS (SELECT *, CASE WHEN prev IS NULL OR tms - prev > 1800000 THEN 1 ELSE 0 END AS is_new FROM l),
        |t AS (SELECT user_id, event_id,
        |  CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY tms, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM s)
        |SELECT user_id, session_id, COUNT(*) AS n_events, MIN(event_id) AS first_event
        |FROM t GROUP BY user_id, session_id""".stripMargin,

    "q_asof_join" ->
      """WITH u AS (
        |  SELECT user_id, ts, event_id, 1 AS side, value, CAST(NULL AS VARCHAR) AS click_event
        |  FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, ts, event_id, 0, NULL, CAST(event_id AS VARCHAR)
        |  FROM events WHERE event_type = 'click'),
        |c AS (SELECT user_id, event_id, side, value,
        |  last_value(click_event IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY ts, side, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_event
        |  FROM u)
        |SELECT user_id, event_id, value, click_event FROM c WHERE side = 1""".stripMargin,

    "q_topk_per_group" ->
      """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice, rn FROM (
        |  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem) WHERE rn <= 3""".stripMargin,

    "q_setops" ->
      """SELECT user_id, 'both' AS tag FROM (
        |  SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
        |  INTERSECT
        |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
        |UNION ALL
        |SELECT user_id, 'click_only' FROM (
        |  SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
        |  EXCEPT
        |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')""".stripMargin,

    "q_anti_join" ->
      """SELECT o_orderkey FROM orders
        |WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)""".stripMargin,

    "q_dedup_exact" ->
      """SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,

    "q_dedup_minhash" ->
      (minhashSigCte +
        """
          |SELECT doc_id, 0 AS seed, m0 AS minhash FROM sig
          |UNION ALL SELECT doc_id, 1, m1 FROM sig
          |UNION ALL SELECT doc_id, 2, m2 FROM sig
          |UNION ALL SELECT doc_id, 3, m3 FROM sig
          |UNION ALL SELECT doc_id, 4, m4 FROM sig
          |UNION ALL SELECT doc_id, 5, m5 FROM sig
          |UNION ALL SELECT doc_id, 6, m6 FROM sig
          |UNION ALL SELECT doc_id, 7, m7 FROM sig""".stripMargin),

    "q_minhash_lsh" ->
      (minhashSigCte +
        """,
          |bk AS (SELECT doc_id, 0 AS band, md5(m0 || m1 || m2 || m3) AS band_key FROM sig
          |       UNION ALL SELECT doc_id, 1, md5(m4 || m5 || m6 || m7) FROM sig)
          |SELECT band, band_key, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc
          |FROM bk GROUP BY band, band_key""".stripMargin),

    "q_lsh_recall" ->
      (minhashSigCte +
        """,
          |bk AS (SELECT doc_id, 0 AS band, md5(m0 || m1 || m2 || m3) AS band_key FROM sig
          |       UNION ALL SELECT doc_id, 1, md5(m4 || m5 || m6 || m7) FROM sig),
          |ok AS (SELECT band, band_key FROM bk GROUP BY band, band_key HAVING COUNT(*) <= 1000),
          |cand AS (
          |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          |  FROM bk a
          |  JOIN ok ON ok.band = a.band AND ok.band_key = a.band_key
          |  JOIN bk b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
          |planted AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          |            FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
          |uni AS (SELECT doc_a, doc_b FROM planted UNION SELECT doc_a, doc_b FROM cand),
          |jsh AS (
          |  SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 8) AS shingle FROM (
          |    SELECT doc_id, text, unnest(generate_series(1, greatest(length(text) - 7, 1))) AS i
          |    FROM documents)),
          |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM jsh GROUP BY doc_id),
          |inter AS (SELECT u.doc_a, u.doc_b, COUNT(*) AS inter
          |          FROM uni u
          |          JOIN jsh sa ON sa.doc_id = u.doc_a
          |          JOIN jsh sb ON sb.doc_id = u.doc_b AND sb.shingle = sa.shingle
          |          GROUP BY u.doc_a, u.doc_b),
          |fl AS (SELECT u.doc_a, u.doc_b,
          |         (COALESCE(i.inter, 0) * 2 >=
          |          na.n_sh + nb.n_sh - COALESCE(i.inter, 0)
          |          AND i.inter IS NOT NULL) AS is_dup,
          |         (lc.doc_a IS NOT NULL) AS lsh_cand
          |       FROM uni u
          |       LEFT JOIN inter i ON i.doc_a = u.doc_a AND i.doc_b = u.doc_b
          |       JOIN sizes na ON na.doc_id = u.doc_a
          |       JOIN sizes nb ON nb.doc_id = u.doc_b
          |       LEFT JOIN (SELECT DISTINCT doc_a, doc_b FROM cand) lc
          |         ON lc.doc_a = u.doc_a AND lc.doc_b = u.doc_b),
          |cf AS (SELECT
          |         CAST(SUM(CASE WHEN is_dup AND lsh_cand THEN 1 ELSE 0 END) AS BIGINT) AS tp,
          |         CAST(SUM(CASE WHEN NOT is_dup AND lsh_cand THEN 1 ELSE 0 END) AS BIGINT) AS fp,
          |         CAST(SUM(CASE WHEN is_dup AND NOT lsh_cand THEN 1 ELSE 0 END) AS BIGINT) AS fn,
          |         CAST(SUM(CASE WHEN NOT is_dup AND NOT lsh_cand THEN 1 ELSE 0 END) AS BIGINT) AS tn
          |       FROM fl)
          |SELECT tp, fp, fn, tn,
          |  CAST(tp * 1000 // greatest(tp + fn, 1) AS BIGINT) AS recall_mills,
          |  CAST(tp * 1000 // greatest(tp + fp, 1) AS BIGINT) AS precision_mills,
          |  CAST(900 AS BIGINT) AS floor_mills,
          |  (tp * 1000 // greatest(tp + fn, 1) >= 900) AS floor_ok
          |FROM cf""".stripMargin),

    "q_snapshot_diff" ->
      """WITH v0 AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_before,
        |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents_before
        |  FROM events WHERE event_id % 3 <> 0 AND user_id % 7 <> 0 GROUP BY user_id),
        |v1 AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_after,
        |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents_after
        |  FROM events WHERE event_id % 5 <> 0 AND user_id % 11 <> 0 GROUP BY user_id)
        |SELECT COALESCE(v0.user_id, v1.user_id) AS user_id,
        |  CASE WHEN v0.user_id IS NULL THEN 'insert'
        |       WHEN v1.user_id IS NULL THEN 'delete'
        |       ELSE 'update' END AS op,
        |  n_before, cents_before, n_after, cents_after
        |FROM v0 FULL OUTER JOIN v1 ON v0.user_id = v1.user_id
        |WHERE NOT (v0.user_id IS NOT NULL AND v1.user_id IS NOT NULL
        |           AND cents_before = cents_after AND n_before = n_after)""".stripMargin,

    // streaming band-bucket state == batch first-in-bucket is exactly the
    // claim under test, so the oracle recomputes first-per-bucket over
    // the whole corpus and flags every later bucket-mate
    "q_stream_neardup" ->
      (minhashSigCte +
        """,
          |bk AS (SELECT doc_id, 0 AS band, md5(m0 || m1 || m2 || m3) AS band_key FROM sig
          |       UNION ALL SELECT doc_id, 1, md5(m4 || m5 || m6 || m7) FROM sig),
          |firsts AS (SELECT band, band_key, MIN(doc_id) AS first_doc
          |           FROM bk GROUP BY band, band_key)
          |SELECT bk.doc_id,
          |  CAST(SUM(CASE WHEN bk.doc_id > f.first_doc THEN 1 ELSE 0 END) AS BIGINT) AS n_hit_bands,
          |  (SUM(CASE WHEN bk.doc_id > f.first_doc THEN 1 ELSE 0 END) > 0) AS is_dup
          |FROM bk JOIN firsts f USING (band, band_key)
          |GROUP BY bk.doc_id""".stripMargin),

    // incremental index == full recompute is exactly the claim under
    // test, so the oracle IS the full-corpus bucket summary
    "q_incr_index" ->
      (minhashSigCte +
        """,
          |bk AS (SELECT doc_id, 0 AS band, md5(m0 || m1 || m2 || m3) AS band_key FROM sig
          |       UNION ALL SELECT doc_id, 1, md5(m4 || m5 || m6 || m7) FROM sig)
          |SELECT band, band_key, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc
          |FROM bk GROUP BY band, band_key""".stripMargin),

    "q_dedup_clusters" ->
      (minhashSigCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
        """,
          |bk AS (SELECT doc_id, 0 AS band, md5(m0 || m1 || m2 || m3) AS band_key FROM sig
          |       UNION ALL SELECT doc_id, 1, md5(m4 || m5 || m6 || m7) FROM sig),
          |ok AS (SELECT band, band_key FROM bk GROUP BY band, band_key HAVING COUNT(*) <= 1000),
          |pairs AS (
          |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          |  FROM bk a
          |  JOIN ok ON ok.band = a.band AND ok.band_key = a.band_key
          |  JOIN bk b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
          |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          |          UNION SELECT doc_b, doc_a FROM pairs),
          |reach(src, dst) AS (
          |  SELECT src, dst FROM edges
          |  UNION
          |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
          |  WHERE e.dst <> r.src),
          |comp AS (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
          |         FROM reach GROUP BY src)
          |SELECT component, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
          |FROM comp GROUP BY component""".stripMargin),

    "q_cluster_keeper" ->
      (minhashSigCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
        """,
          |bk AS (SELECT doc_id, 0 AS band, md5(m0 || m1 || m2 || m3) AS band_key FROM sig
          |       UNION ALL SELECT doc_id, 1, md5(m4 || m5 || m6 || m7) FROM sig),
          |ok AS (SELECT band, band_key FROM bk GROUP BY band, band_key HAVING COUNT(*) <= 1000),
          |pairs AS (
          |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          |  FROM bk a
          |  JOIN ok ON ok.band = a.band AND ok.band_key = a.band_key
          |  JOIN bk b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
          |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          |          UNION SELECT doc_b, doc_a FROM pairs),
          |reach(src, dst) AS (
          |  SELECT src, dst FROM edges
          |  UNION
          |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
          |  WHERE e.dst <> r.src),
          |comp AS (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
          |         FROM reach GROUP BY src)
          |SELECT component, n_docs, doc_id AS keep_id, n_chars AS keep_chars FROM (
          |  SELECT c.component, COUNT(*) OVER (PARTITION BY c.component) AS n_docs,
          |    c.doc_id, d.n_chars,
          |    row_number() OVER (PARTITION BY c.component
          |      ORDER BY d.n_chars DESC, c.doc_id) AS rn
          |  FROM comp c JOIN documents d USING (doc_id)) WHERE rn = 1""".stripMargin),

    "q_dedup_pipeline" ->
      (minhashSigCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
        """,
          |bk AS (SELECT doc_id, 0 AS band, md5(m0 || m1 || m2 || m3) AS band_key FROM sig
          |       UNION ALL SELECT doc_id, 1, md5(m4 || m5 || m6 || m7) FROM sig),
          |ok AS (SELECT band, band_key FROM bk GROUP BY band, band_key HAVING COUNT(*) <= 1000),
          |cand AS (
          |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          |  FROM bk a
          |  JOIN ok ON ok.band = a.band AND ok.band_key = a.band_key
          |  JOIN bk b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
          |jsh AS (
          |  SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 8) AS shingle FROM (
          |    SELECT doc_id, text, unnest(generate_series(1, greatest(length(text) - 7, 1))) AS i
          |    FROM documents)),
          |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM jsh GROUP BY doc_id),
          |inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
          |          FROM cand c
          |          JOIN jsh sa ON sa.doc_id = c.doc_a
          |          JOIN jsh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
          |          GROUP BY c.doc_a, c.doc_b),
          |verified AS (
          |  SELECT i.doc_a, i.doc_b FROM inter i
          |  JOIN sizes na ON na.doc_id = i.doc_a
          |  JOIN sizes nb ON nb.doc_id = i.doc_b
          |  WHERE CAST(i.inter AS DOUBLE) / (na.n_sh + nb.n_sh - i.inter) >= 0.5),
          |edges AS (SELECT doc_a AS src, doc_b AS dst FROM verified
          |          UNION SELECT doc_b, doc_a FROM verified),
          |reach(src, dst) AS (
          |  SELECT src, dst FROM edges
          |  UNION
          |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
          |  WHERE e.dst <> r.src),
          |comp AS (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
          |         FROM reach GROUP BY src)
          |SELECT component, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
          |FROM comp GROUP BY component""".stripMargin),

    "q_edit_neardup" ->
      (minhashSigCte +
        """,
          |bk AS (SELECT doc_id, 0 AS band, md5(m0 || m1 || m2 || m3) AS band_key FROM sig
          |       UNION ALL SELECT doc_id, 1, md5(m4 || m5 || m6 || m7) FROM sig),
          |ok AS (SELECT band, band_key FROM bk GROUP BY band, band_key HAVING COUNT(*) <= 1000),
          |cand AS (
          |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          |  FROM bk a
          |  JOIN ok ON ok.band = a.band AND ok.band_key = a.band_key
          |  JOIN bk b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
          |scored AS (
          |  SELECT c.doc_a, c.doc_b,
          |    CAST(levenshtein(da.text, db.text) AS BIGINT) AS full_dist,
          |    CAST(greatest(length(da.text), length(db.text)) AS BIGINT) AS max_len
          |  FROM cand c
          |  JOIN documents da ON da.doc_id = c.doc_a
          |  JOIN documents db ON db.doc_id = c.doc_b),
          |g AS (
          |  SELECT doc_a, doc_b, max_len,
          |    CASE WHEN full_dist <= max_len // 5 THEN full_dist
          |         ELSE CAST(-1 AS BIGINT) END AS edit_dist
          |  FROM scored)
          |SELECT doc_a, doc_b, edit_dist,
          |  CASE WHEN max_len = 0 THEN 1000
          |       WHEN edit_dist = -1 THEN -1
          |       ELSE (1000 * (max_len - edit_dist)) // max_len END AS sim_mills,
          |  (CASE WHEN max_len = 0 THEN 1000
          |        WHEN edit_dist = -1 THEN -1
          |        ELSE (1000 * (max_len - edit_dist)) // max_len END) >= 800 AS is_dup
          |FROM g""".stripMargin),

    "q_dedup_simhash" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |tb AS (SELECT doc_id, md5(w) AS h, unnest(generate_series(0, 15)) AS bit FROM tok),
        |wts AS (SELECT doc_id, bit,
        |  CASE WHEN strpos('89abcdef', substr(h, CAST(bit AS INT) + 1, 1)) > 0 THEN 1 ELSE -1 END AS wt
        |  FROM tb),
        |sw AS (SELECT doc_id, bit, SUM(wt) AS sw FROM wts GROUP BY doc_id, bit)
        |SELECT doc_id,
        |  CAST(SUM(CASE WHEN sw > 0 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END) AS BIGINT) AS simhash
        |FROM sw GROUP BY doc_id""".stripMargin,

    "q_topk_agg" ->
      """SELECT event_type, cents, event_id FROM (
        |  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents, event_id,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY ROUND(value * 100) DESC, event_id) AS rn
        |  FROM events)
        |WHERE rn <= 3""".stripMargin,

    "q_skew_join" ->
      """WITH dim AS (
        |  SELECT user_id, CAST(CAST(MIN(ts) AS DATE) AS VARCHAR) AS first_seen
        |  FROM events GROUP BY user_id)
        |SELECT e.event_id, e.user_id, CAST(ROUND(e.value * 100) AS BIGINT) AS cents,
        |  d.first_seen
        |FROM events e JOIN dim d ON d.user_id = e.user_id""".stripMargin,

    "q_range_join" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS tms FROM events),
        |w AS (SELECT user_id AS campaign_user, MIN(tms) AS win_start,
        |             MIN(tms) + 2 * 3600 * 1000 AS win_end
        |      FROM e WHERE user_id % 50 = 0 GROUP BY user_id)
        |SELECT w.campaign_user, e.event_id, e.user_id, e.tms
        |FROM e JOIN w ON e.tms BETWEEN w.win_start AND w.win_end""".stripMargin,

    "q_simhash_pairs" ->
      // the oracle mirrors BOTH halves of the contract: pigeonhole
      // banding itself is lossless (any hamming<=2 pair shares a band),
      // and the bucket-population skew cap is part of the semantics —
      // pairs inside over-cap buckets are cluster members, not pairs.
      // Band layout matches simhashCandidatePairs(bits=16, maxDist=2):
      // band 0 = bits 0-5 (6 bits), band 1 = bits 6-10, band 2 = bits
      // 11-15 (5 bits each).
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |tb AS (SELECT doc_id, md5(w) AS h, unnest(generate_series(0, 15)) AS bit FROM tok),
        |wts AS (SELECT doc_id, bit,
        |  CASE WHEN strpos('89abcdef', substr(h, CAST(bit AS INT) + 1, 1)) > 0 THEN 1 ELSE -1 END AS wt
        |  FROM tb),
        |sw AS (SELECT doc_id, bit, SUM(wt) AS sw FROM wts GROUP BY doc_id, bit),
        |sg AS (SELECT doc_id,
        |  CAST(SUM(CASE WHEN sw > 0 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END) AS BIGINT) AS simhash
        |  FROM sw GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, simhash, 0 AS band, simhash & 63 AS band_key FROM sg
        |  UNION ALL SELECT doc_id, simhash, 1, (simhash >> 6) & 31 FROM sg
        |  UNION ALL SELECT doc_id, simhash, 2, (simhash >> 11) & 31 FROM sg),
        |ok AS (SELECT band, band_key FROM bands GROUP BY band, band_key
        |       HAVING COUNT(*) <= 1000),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.simhash AS sh_a, b.simhash AS sh_b
        |  FROM bands a
        |  JOIN ok ON ok.band = a.band AND ok.band_key = a.band_key
        |  JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
        |    AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b,
        |  CAST(bit_count(CAST(xor(sh_a, sh_b) AS BIGINT)) AS BIGINT) AS hamming
        |FROM cand
        |WHERE bit_count(CAST(xor(sh_a, sh_b) AS BIGINT)) <= 2""".stripMargin,

    "q_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 8) AS shingle FROM (
        |    SELECT doc_id, text, unnest(generate_series(1, greatest(length(text) - 7, 1))) AS i
        |    FROM documents)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |          FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
        |inter AS (SELECT p.doc_a, p.doc_b, COUNT(*) AS inter
        |          FROM pairs p
        |          JOIN sh sa ON sa.doc_id = p.doc_a
        |          JOIN sh sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
        |          GROUP BY p.doc_a, p.doc_b)
        |SELECT i.doc_a, i.doc_b, i.inter, (na.n_sh + nb.n_sh - i.inter) AS uni,
        |  CAST(i.inter AS DOUBLE) / (na.n_sh + nb.n_sh - i.inter) AS jaccard
        |FROM inter i
        |JOIN sizes na ON na.doc_id = i.doc_a
        |JOIN sizes nb ON nb.doc_id = i.doc_b""".stripMargin,

    "q_containment" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 8) AS shingle FROM (
        |    SELECT doc_id, text, unnest(generate_series(1, greatest(length(text) - 7, 1))) AS i
        |    FROM documents)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |          FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
        |inter AS (SELECT p.doc_a, p.doc_b, COUNT(*) AS inter
        |          FROM pairs p
        |          JOIN sh sa ON sa.doc_id = p.doc_a
        |          JOIN sh sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
        |          GROUP BY p.doc_a, p.doc_b)
        |SELECT i.doc_a, i.doc_b, i.inter,
        |  na.n_sh AS n_a, nb.n_sh AS n_b,
        |  CAST(i.inter AS DOUBLE) / na.n_sh AS cont_a_in_b,
        |  CAST(i.inter AS DOUBLE) / nb.n_sh AS cont_b_in_a,
        |  (GREATEST(CAST(i.inter AS DOUBLE) / na.n_sh,
        |            CAST(i.inter AS DOUBLE) / nb.n_sh) >= 0.8
        |   AND CAST(i.inter AS DOUBLE) / (na.n_sh + nb.n_sh - i.inter) < 0.5)
        |    AS asym_quote
        |FROM inter i
        |JOIN sizes na ON na.doc_id = i.doc_a
        |JOIN sizes nb ON nb.doc_id = i.doc_b""".stripMargin,

    // exact integer second moments per (i, j) dim pair — the contract the
    // VecOuterSum aggregate must hit bit-exactly; covariance/eigen float
    // math happens after this line (PcaSpec)
    "q_embed_covariance" ->
      """WITH q AS (SELECT list_transform(embedding,
        |    x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        |  FROM embeddings)
        |SELECT CAST(gi.i AS BIGINT) AS i, CAST(gj.j AS BIGINT) AS j,
        |  CAST(SUM(q.q[CAST(gi.i AS INT) + 1] * q.q[CAST(gj.j AS INT) + 1]) AS BIGINT) AS s11,
        |  CAST(SUM(q.q[CAST(gi.i AS INT) + 1]) AS BIGINT) AS s1_i,
        |  CAST(SUM(q.q[CAST(gj.j AS INT) + 1]) AS BIGINT) AS s1_j,
        |  COUNT(*) AS n
        |FROM q, generate_series(0, 63) gi(i), generate_series(0, 63) gj(j)
        |WHERE gj.j >= gi.i
        |GROUP BY gi.i, gj.j""".stripMargin,

    "q_embed_topk" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |  CAST(SUM(CAST(ROUND(CAST(e.embedding[CAST(g.i AS INT)] AS DOUBLE) * 1000) AS BIGINT)
        |         * CAST(ROUND(CAST(q.qv[CAST(g.i AS INT)] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT) AS dot
        |FROM embeddings e, q, generate_series(1, 64) g(i)
        |WHERE e.vec_id <> 0
        |GROUP BY e.vec_id ORDER BY dot DESC, vec_id LIMIT 10""".stripMargin,

    // probing all cells of the materialized IVF index = exhaustive search,
    // so the oracle is plain brute-force top-20 (same dot as q_embed_topk)
    "q_ivf_probe" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |  CAST(SUM(CAST(ROUND(CAST(e.embedding[CAST(g.i AS INT)] AS DOUBLE) * 1000) AS BIGINT)
        |         * CAST(ROUND(CAST(q.qv[CAST(g.i AS INT)] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT) AS dot
        |FROM embeddings e, q, generate_series(1, 64) g(i)
        |WHERE e.vec_id <> 0
        |GROUP BY e.vec_id ORDER BY dot DESC, vec_id LIMIT 20""".stripMargin,

    // all-cells probe over the APPENDED index == brute-force top-20 over
    // old ∪ new for each held-out query — a vector missing from (or
    // duplicated in) the append shifts the gated top-k
    "q_ivf_append" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
        |           WHERE vec_id IN (1, 2, 3)),
        |d AS (
        |  SELECT q.qid, e.vec_id,
        |    CAST(SUM(CAST(ROUND(CAST(e.embedding[CAST(g.i AS INT)] AS DOUBLE) * 1000) AS BIGINT)
        |           * CAST(ROUND(CAST(q.qv[CAST(g.i AS INT)] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT) AS dot
        |  FROM embeddings e, q, generate_series(1, 64) g(i)
        |  WHERE e.vec_id NOT IN (1, 2, 3)
        |  GROUP BY q.qid, e.vec_id),
        |r AS (SELECT qid, vec_id, dot,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id) AS rn
        |  FROM d)
        |SELECT qid, vec_id, dot FROM r WHERE rn <= 20""".stripMargin,

    // all-cells probe + corpus-sized candidate set makes the IVF×PQ
    // composition exhaustive: the oracle is brute-force top-15 for
    // query vector 2
    "q_ivfpq_topk" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 2)
        |SELECT e.vec_id,
        |  CAST(SUM(CAST(ROUND(CAST(e.embedding[CAST(g.i AS INT)] AS DOUBLE) * 1000) AS BIGINT)
        |         * CAST(ROUND(CAST(q.qv[CAST(g.i AS INT)] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT) AS dot
        |FROM embeddings e, q, generate_series(1, 64) g(i)
        |WHERE e.vec_id <> 2
        |GROUP BY e.vec_id ORDER BY dot DESC, vec_id LIMIT 15""".stripMargin,

    "q_embed_lsh" ->
      """WITH s AS (
        |  SELECT vec_id, p.j,
        |    (CASE WHEN ((g.i * 31 + p.j * 17) % 7) < 3 THEN 1 ELSE -1 END)
        |    * CAST(ROUND(CAST(embedding[CAST(g.i AS INT)] AS DOUBLE) * 1000) AS BIGINT) AS term
        |  FROM embeddings, generate_series(0, 7) p(j), generate_series(1, 64) g(i)),
        |b AS (SELECT vec_id, j, CAST(SUM(term) AS BIGINT) AS sdot FROM s GROUP BY vec_id, j)
        |SELECT vec_id,
        |  CAST(SUM(CASE WHEN sdot > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END) AS BIGINT) AS bucket
        |FROM b GROUP BY vec_id""".stripMargin,

    // ANN recall eval with the multiprobe ladder and the SEMANTIC floor
    // gate: the SQL-replicated LSH bucket scheme (same CTEs as
    // q_embed_lsh), per-arm candidates by bucket Hamming radius
    // (bit_count over xor), exact-dot re-rank, brute-force ground truth,
    // top-10 overlap per probe, and the per-arm corpus-mean floor_ok
    // boolean — the whole eval is integer math, replayed bit-exactly
    "q_ann_recall" ->
      """WITH s AS (
        |  SELECT vec_id, p.j,
        |    (CASE WHEN ((g.i * 31 + p.j * 17) % 7) < 3 THEN 1 ELSE -1 END)
        |    * CAST(ROUND(CAST(embedding[CAST(g.i AS INT)] AS DOUBLE) * 1000) AS BIGINT) AS term
        |  FROM embeddings, generate_series(0, 7) p(j), generate_series(1, 64) g(i)),
        |b AS (SELECT vec_id, j, CAST(SUM(term) AS BIGINT) AS sdot FROM s GROUP BY vec_id, j),
        |bk AS (SELECT vec_id,
        |  CAST(SUM(CASE WHEN sdot > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM b GROUP BY vec_id),
        |scored AS (
        |  SELECT p.vec_id AS p_id, c.vec_id AS c_id,
        |    CAST(SUM(CAST(ROUND(CAST(p.embedding[CAST(g.i AS INT)] AS DOUBLE) * 1000) AS BIGINT)
        |           * CAST(ROUND(CAST(c.embedding[CAST(g.i AS INT)] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT) AS dot,
        |    bit_count(xor(pb.bucket, cb.bucket)) AS hd
        |  FROM embeddings p
        |  JOIN bk pb ON pb.vec_id = p.vec_id
        |  JOIN embeddings c ON c.vec_id <> p.vec_id
        |  JOIN bk cb ON cb.vec_id = c.vec_id
        |  CROSS JOIN generate_series(1, 64) g(i)
        |  WHERE p.vec_id % 40 = 0
        |  GROUP BY 1, 2, pb.bucket, cb.bucket),
        |exact10 AS (SELECT p_id, c_id FROM (
        |  SELECT p_id, c_id, row_number() OVER (PARTITION BY p_id ORDER BY dot DESC, c_id) AS rn
        |  FROM scored) WHERE rn <= 10),
        |arms AS (SELECT * FROM (VALUES ('bucket', 0, 50), ('probe1', 1, 100),
        |                               ('probe2', 2, 200)) v(arm, r, floor_mills)),
        |approx10 AS (SELECT arm, p_id, c_id FROM (
        |  SELECT a.arm, d.p_id, d.c_id,
        |    row_number() OVER (PARTITION BY a.arm, d.p_id ORDER BY d.dot DESC, d.c_id) AS rn
        |  FROM scored d JOIN arms a ON d.hd <= a.r) WHERE rn <= 10),
        |hits AS (SELECT a.arm, e.p_id, CAST(COUNT(*) AS BIGINT) AS hits10
        |  FROM exact10 e JOIN approx10 a USING (p_id, c_id) GROUP BY 1, 2),
        |per_probe AS (
        |  SELECT a.arm, p.vec_id, CAST(COALESCE(h.hits10, 0) AS BIGINT) AS hits10,
        |    CAST(a.floor_mills AS BIGINT) AS floor_mills
        |  FROM (SELECT vec_id FROM embeddings WHERE vec_id % 40 = 0) p
        |  CROSS JOIN arms a
        |  LEFT JOIN hits h ON h.p_id = p.vec_id AND h.arm = a.arm),
        |stats AS (SELECT arm, CAST((SUM(hits10) * 100) // COUNT(*) AS BIGINT) AS mean_mills
        |  FROM per_probe GROUP BY arm)
        |SELECT p.arm, p.vec_id, p.hits10, s.mean_mills, p.floor_mills,
        |  (s.mean_mills >= p.floor_mills) AS floor_ok
        |FROM per_probe p JOIN stats s USING (arm)""".stripMargin,

    "q_text_scrub" ->
      // same augmented text, same RE2/Java-common patterns, same order
      """WITH a AS (SELECT doc_id,
        |  text || ' user' || CAST(doc_id AS VARCHAR) || '@example.com ip 10.0.' ||
        |  CAST(doc_id % 256 AS VARCHAR) || '.7 tel 555123450' || CAST(doc_id % 10 AS VARCHAR) AS aug
        |FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(aug, '\b\d{1,3}(\.\d{1,3}){3}\b')) AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(aug, '\d{7,}')) AS BIGINT) AS n_nums,
        |  md5(regexp_replace(regexp_replace(regexp_replace(aug,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g'),
        |    '\d{7,}', '<NUM>', 'g')) AS scrub_md5
        |FROM a""".stripMargin,

    "q_text_langid" ->
      """WITH p AS (SELECT doc_id, ' ' || text || ' ' AS pt FROM documents),
        |sc AS (SELECT doc_id,
        |  CAST((length(pt) - length(replace(pt, ' the ', ''))) / 5 AS BIGINT)
        |  + CAST((length(pt) - length(replace(pt, ' a ', ''))) / 3 AS BIGINT)
        |  + CAST((length(pt) - length(replace(pt, ' and ', ''))) / 5 AS BIGINT) AS en_score,
        |  CAST((length(pt) - length(replace(pt, ' le ', ''))) / 4 AS BIGINT)
        |  + CAST((length(pt) - length(replace(pt, ' la ', ''))) / 4 AS BIGINT)
        |  + CAST((length(pt) - length(replace(pt, ' et ', ''))) / 4 AS BIGINT) AS fr_score,
        |  CAST((length(pt) - length(replace(pt, ' der ', ''))) / 5 AS BIGINT)
        |  + CAST((length(pt) - length(replace(pt, ' die ', ''))) / 5 AS BIGINT)
        |  + CAST((length(pt) - length(replace(pt, ' und ', ''))) / 5 AS BIGINT) AS de_score,
        |  CAST((length(pt) - length(replace(pt, ' el ', ''))) / 4 AS BIGINT)
        |  + CAST((length(pt) - length(replace(pt, ' los ', ''))) / 5 AS BIGINT)
        |  + CAST((length(pt) - length(replace(pt, ' y ', ''))) / 3 AS BIGINT) AS es_score
        |FROM p)
        |SELECT doc_id, en_score, fr_score, de_score, es_score,
        |  CASE WHEN en_score >= fr_score AND en_score >= de_score AND en_score >= es_score THEN 'en'
        |       WHEN fr_score >= de_score AND fr_score >= es_score THEN 'fr'
        |       WHEN de_score >= es_score THEN 'de'
        |       ELSE 'es' END AS pred_lang
        |FROM sc""".stripMargin,

    "q_text_quality" ->
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS len_chars,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(length(replace(text, ' ', '')) AS BIGINT) AS nonspace_chars,
        |  CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) AS mean_token_len,
        |  CAST(CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ''))) / 5 AS BIGINT) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS stopword_ratio
        |FROM documents""".stripMargin,

    "q_text_tokens" ->
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tok
        |FROM documents""".stripMargin,

    "q_text_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |FROM documents""".stripMargin,

    "q_multimodal_bytes" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  sha256(text) AS sha
        |FROM documents""".stripMargin,

    "q_url_canonical" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'HTTP://WWW.' || upper(source) || '.Example.COM:80/p/' ||
        |    CAST(doc_id % 5 AS VARCHAR) || '/item?utm_source=feed&id=' ||
        |    CAST(doc_id % 10 AS VARCHAR) || '&ref=tw#s' ||
        |    CAST(doc_id % 3 AS VARCHAR) AS url
        |  FROM documents),
        |n AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS nofrag FROM u),
        |parts AS (SELECT doc_id,
        |  lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |  regexp_replace(regexp_replace(
        |    lower(regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
        |    ':80$', ''), '^www\.', '') AS host,
        |  regexp_replace(regexp_replace(
        |    regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1),
        |    '(utm_[a-z]+|ref)=[^&#]*&?', '', 'g'), '[?&]$', '') AS pathq
        |FROM n),
        |c AS (SELECT doc_id, scheme || '://' || host || pathq AS canon_url, host
        |FROM parts)
        |SELECT doc_id, canon_url, host,
        |  (row_number() OVER (PARTITION BY canon_url ORDER BY doc_id) > 1) AS is_dup_url
        |FROM c""".stripMargin,

    "q_leak_split" ->
      (minhashSigCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
        """,
          |bk AS (SELECT doc_id, 0 AS band, md5(m0 || m1 || m2 || m3) AS band_key FROM sig
          |       UNION ALL SELECT doc_id, 1, md5(m4 || m5 || m6 || m7) FROM sig),
          |ok AS (SELECT band, band_key FROM bk GROUP BY band, band_key HAVING COUNT(*) <= 1000),
          |pairs AS (
          |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          |  FROM bk a
          |  JOIN ok ON ok.band = a.band AND ok.band_key = a.band_key
          |  JOIN bk b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
          |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          |          UNION SELECT doc_b, doc_a FROM pairs),
          |reach(src, dst) AS (
          |  SELECT src, dst FROM edges
          |  UNION
          |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
          |  WHERE e.dst <> r.src),
          |comp AS (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
          |         FROM reach GROUP BY src),
          |lab AS (SELECT d.doc_id,
          |          CAST(COALESCE(c.component, d.doc_id) AS BIGINT) AS component
          |        FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
          |h AS (SELECT doc_id, component,
          |        instr('0123456789abcdef',
          |          substr(md5('split1:' || CAST(component AS VARCHAR)), 1, 1)) - 1 AS hx
          |      FROM lab)
          |SELECT doc_id, component,
          |  CASE WHEN hx <= 12 THEN 'train' WHEN hx <= 14 THEN 'val'
          |       ELSE 'test' END AS split
          |FROM h""".stripMargin)
  )
}
