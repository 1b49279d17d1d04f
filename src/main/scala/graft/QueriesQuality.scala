package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Tables, Tmp}

/** Data-quality / audit query batch: the checks a production ingestion
  * pipeline runs continuously (SURVEY §2.5 O12 liveness is process-level;
  * these are data-level).
  */
object QueriesQuality {

  private def li(s: SparkSession, dir: String) = Tables.lineitem(s, dir)
  private def events(s: SparkSession, dir: String) = Tables.events(s, dir)

  /** Referential-integrity audit: child rows with/without parents
    * (orphans indicate lost events or out-of-order application).
    */
  def fkAudit(s: SparkSession, dir: String): DataFrame = {
    val l = li(s, dir).select(col("l_orderkey"))
    val o = Tables.orders(s, dir).select(col("o_orderkey"))
    l.join(o, col("l_orderkey") === col("o_orderkey"), "left")
      .groupBy()
      .agg(count(lit(1)).as("n_lineitems"),
        sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("n_orphans"))
  }

  /** Null/blank audit per column (schema-drift detection). */
  def nullAudit(s: SparkSession, dir: String): DataFrame =
    events(s, dir).groupBy()
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("null_user"),
        sum(when(col("value").isNull, 1L).otherwise(0L)).as("null_value"),
        sum(when(col("props").isNull || col("props") === "", 1L).otherwise(0L)).as("blank_props"))

  /** Duplicate-key audit: PK uniqueness violations (must be zero after
    * correct snapshot+changelog application).
    */
  def pkAudit(s: SparkSession, dir: String): DataFrame =
    li(s, dir).groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .groupBy()
      .agg(count(lit(1)).as("dup_keys"), coalesce(sum(col("n")), lit(0L)).as("dup_rows"))

  /** Value-distribution histogram (drift monitoring): floor buckets. */
  def valueHistogram(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select((floor(col("value") / 25) * 25).cast("long").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))

  /** First event per user per day — windowed dedup (batch twin of
    * stream.StatefulDedup with a daily key).
    */
  def firstPerDay(s: SparkSession, dir: String): DataFrame = {
    val day = unix_millis(date_trunc("day", col("ts"))).as("day_ms")
    val w = Window.partitionBy(col("user_id"), col("day_ms"))
      .orderBy(col("ts"), col("event_id"))
    events(s, dir)
      .select(col("user_id"), day, col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("day_ms"), col("event_id"), col("event_type"))
  }

  /** Semi-structured extraction: the JSON `props` payload parsed through
    * the TYPED path (`from_json` with an explicit schema — codegen'd
    * struct access, not per-call string probing) and profiled per event
    * type. The shape every ingest layer needs for event payloads: declare
    * the fields you use, let the scan prune the rest, aggregate on the
    * extracted column like any other. At 100 TB the schema declaration is
    * what keeps JSON columns from becoming a per-row parser bottleneck —
    * one parse per row into a struct, every downstream reference free.
    */
  def jsonExtract(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("event_type"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
          .getField("k").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        count(col("k")).as("n_parsed"),
        sum(col("k")).as("k_sum"),
        min(col("k")).as("k_min"),
        max(col("k")).as("k_max"),
        countDistinct(col("k")).as("k_distinct"))

  /** Exact two-sample Kolmogorov-Smirnov drift between event cohorts
    * (even vs odd user_id — the A/B split a pipeline health check runs
    * between "this week's ingest" and "last week's"): per event_type,
    * the KS statistic D = max |CDF_a − CDF_b| over the value
    * distribution, computed EXACTLY in integers. The histogram is
    * domain-bounded (distinct cents values), the CDFs are integer
    * cumulative counts, and D is carried as the cross-multiplied
    * numerator max|cum_a·nb − cum_b·na| (BIGINT — no FP division until
    * the final integer-div mills report), so both engines agree
    * bit-for-bit. Scale shape: one map-side-combinable histogram
    * shuffle + a window over distinct values per type (value-domain
    * bounded, not row-count bounded) — the same counting-sort stance as
    * q_percentiles. 3-sigma mean-drift gating is q_anomaly_events; this
    * is the distribution-SHAPE drift detector beside it.
    */
  def ksDrift(s: SparkSession, dir: String): DataFrame =
    ksFromHistogram(cohortHistogram(
      events(s, dir).filter(col("user_id").isNotNull)))

  /** (event_type, cents, ca, cb) cohort counting histogram — the
    * mergeable sufficient statistic both the batch and streaming KS
    * paths reduce to (per-cell counts ADD across batches, which is what
    * makes the streaming accumulation exact).
    */
  private[graft] def cohortHistogram(e: DataFrame): DataFrame =
    e.select(col("event_type"), (col("user_id") % 2 === 0).as("in_a"),
      round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("event_type"), col("cents"))
      .agg(sum(when(col("in_a"), 1L).otherwise(0L)).as("ca"),
        sum(when(col("in_a"), 0L).otherwise(1L)).as("cb"))

  /** Fold a cohort histogram to the per-type KS row. The cross-multiplied
    * numerator |cum_a·nb − cum_b·na| is carried in DECIMAL(38,0) — BIGINT
    * would overflow once per-type cohort counts pass ~3e9 (cum·n ≈ n²),
    * which the 100 TB docstring explicitly targets; DECIMAL(38,0) holds to
    * n ≈ 1e19 cohort rows in both engines bit-exactly. An EMPTY cohort
    * (na or nb = 0) makes the statistic undefined — the numerator is then
    * identically 0 and the `greatest(na·nb, 1)` guard lands ks_mills = 0
    * in both engines instead of a NULL-vs-division-error disagreement.
    * The GATED output carries ks_num as STRING: the decimal arithmetic
    * stays internal, but a raw DECIMAL output column proved
    * canonicalization-fragile across harnesses (r15: bit-identical values,
    * divergent decimal rendering between parquet readers) — digits-only
    * STRING is exact at any magnitude and renderer-proof.
    */
  private def ksFromHistogram(hist: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("cents"))
    val tot = Window.partitionBy(col("event_type"))
    val dec = "decimal(38,0)"
    hist
      .withColumn("cum_a", sum(col("ca")).over(w).cast(dec))
      .withColumn("cum_b", sum(col("cb")).over(w).cast(dec))
      .withColumn("na", sum(col("ca")).over(tot))
      .withColumn("nb", sum(col("cb")).over(tot))
      .groupBy(col("event_type"), col("na"), col("nb"))
      .agg(max(abs(col("cum_a") * col("nb") - col("cum_b") * col("na")))
        .cast(dec).as("ks_num"))
      .select(col("event_type"), col("na"), col("nb"),
        col("ks_num").cast("string").as("ks_num"),
        expr(s"cast((1000 * ks_num) div greatest(cast(na as $dec) * nb, 1) as bigint)")
          .as("ks_mills"))
  }

  /** Streaming drift monitor — [[ksDrift]] on the ingest path: each
    * micro-batch reduces to its cohort-histogram DELTA (per-cell counts,
    * the mergeable statistic), written idempotently per batchId
    * (foreachBatch is at-least-once; a replayed batch overwrites its own
    * subdirectory), and the final KS over the merged histogram equals
    * the batch formula EXACTLY — which is precisely what the shared
    * q_ks_drift oracle gates. The 100 TB shape: what crosses each batch
    * boundary is the domain-bounded histogram delta, never rows, so the
    * monitor's state is value-domain-sized regardless of stream volume
    * (the same counting-sort stance as the batch op). The fixture stages
    * as `repartition(3)` + maxFilesPerTrigger=1 — i.e. exactly 3
    * micro-batches — deliberately: one batch would never exercise the
    * cross-batch delta merge this row exists to gate, while more batches
    * only multiply the per-batch machinery constant without adding
    * semantic coverage.
    */
  def streamKs(s: SparkSession, dir: String): DataFrame = {
    val src = Tmp.stagedOnce("sks", dir) { p =>
      events(s, dir).filter(col("user_id").isNotNull)
        .select(col("event_type"), col("user_id"), col("value"))
        .repartition(3).write.mode("overwrite").parquet(p)
      p
    }
    // wiped at entry: the returned DataFrame reads the deltas lazily
    val out = Tmp.staged("sks_out", dir)
    Tmp.deleteRecursively(java.nio.file.Paths.get(out))
    Tmp.replay("graft-sks-ckpt") { ckpt =>
      s.readStream.schema("event_type string, user_id bigint, value double")
        .option("maxFilesPerTrigger", "1").parquet(src)
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          cohortHistogram(batch)
            .write.mode("overwrite").parquet(s"$out/b$batchId")
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    ksMergeDeltas(s, out)
  }

  /** Merge per-batch cohort-histogram deltas (cell counts ADD) and land
    * the KS statistic — shared by [[streamKs]] and KillRecoverySpec's
    * crash-resume leg, so both gate the identical merge arithmetic.
    */
  private[graft] def ksMergeDeltas(s: SparkSession, out: String): DataFrame =
    ksFromHistogram(
      s.read.option("recursiveFileLookup", "true").parquet(out)
        .groupBy(col("event_type"), col("cents"))
        .agg(sum(col("ca")).as("ca"), sum(col("cb")).as("cb")))

  /** Join-key skew profiler + salt planner — the diagnostic a 100 TB
    * join runs BEFORE choosing its physical strategy: per event type,
    * the per-key mass distribution (p50/p99/max via discrete rank-floor
    * quantiles over a mass-domain-bounded counting histogram — two
    * map-side-combinable shuffles, the q_percentiles stance), the
    * hottest key, and the integer salt factor
    * ceil(max_mass / max(4·p50, 1)) that caps each salted shard of
    * the hot key at ~4× the median key's mass — exactly the number
    * q_skew_join's salting needs as input, computed AS AN OPERATOR and
    * consumed by [[QueriesAnalytics.skewJoin]] (max over types, clamped,
    * broadcast as a one-row stats table), so the salting decision is
    * data-driven rather than hand-tuned. All integer arithmetic; ties
    * for the hottest key break by key.
    */
  def keySkew(s: SparkSession, dir: String): DataFrame = {
    val mass = keyMass(events(s, dir))
    val topW = Window.partitionBy(col("event_type"))
      .orderBy(col("mass").desc, col("user_id"))
    val top = mass.withColumn("rn", row_number().over(topW))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("user_id").as("top_key"))
    keyMassStats(mass).join(top, "event_type")
      .select(col("event_type"), col("n").as("n_keys"), col("n_rows"),
        col("p50_mass"), col("p99_mass"), col("max_mass"), col("top_key"),
        col("top_salt"))
  }

  /** Per-(type, key) row mass — the profiler's one corpus-keyed shuffle. */
  private[graft] def keyMass(e: DataFrame): DataFrame =
    e.filter(col("user_id").isNotNull)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("mass"))

  /** Stats half of the profiler — the part a consumer that only needs
    * the SALT FACTOR (q_skew_join) pays for: mass histogram → rank-floor
    * quantiles → top_salt. The hottest-KEY identity (a window pass over
    * the mass table) stays in [[keySkew]] only.
    */
  private[graft] def keyMassStats(mass: DataFrame): DataFrame = {
    val hist = mass.groupBy(col("event_type"), col("mass"))
      .agg(count(lit(1)).as("cnt"))
    val win = Window.partitionBy(col("event_type")).orderBy(col("mass"))
    val cum = hist
      .withColumn("cum_end", sum(col("cnt")).over(win))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("event_type"))))
    def rank(q: Double) = floor((col("n") - 1) * lit(q))
    def atRank(q: Double) =
      max(when(col("cum_end") - col("cnt") <= rank(q) && rank(q) < col("cum_end"),
        col("mass")))
    cum.groupBy(col("event_type"), col("n"))
      .agg(atRank(0.5).as("p50_mass"), atRank(0.99).as("p99_mass"),
        max(col("mass")).as("max_mass"),
        sum(col("cnt") * col("mass")).as("n_rows"))
      .withColumn("top_salt",
        expr("(max_mass + greatest(p50_mass * 4, 1) - 1) div " +
          "greatest(p50_mass * 4, 1)"))
  }

  /** Logistic-regression document-quality filter (see
    * [[graft.analytics.LogReg]] for the full 100 TB design): mills
    * features → standardize from exact integer moments →
    * exact-integer-gradient full-batch GD (deterministic under any
    * partitioning) → BIGINT margin scoring replayed by the oracle with
    * the folded weights as literals. Trained the way production quality
    * filters are (CCNet: reference corpus positive, raw crawl negative):
    * the negative class is built deterministically by degrading half the
    * corpus — a salted md5 coin picks the docs, and junk boilerplate of
    * doc-dependent length is appended (the augment-then-process fixture
    * pattern of q_text_scrub/q_url_canonical, so the oracle rebuilds the
    * identical corpus). The filter then learns the clean-vs-junk
    * boundary from the ratio features alone; LogRegSpec gates accuracy,
    * loss descent, and the early-stop criterion (iteration count is
    * DATA-DRIVEN off the integer loss trace — ~12 iterations on this
    * task, accuracy identical to the old fixed 30 at ~40% of the cost);
    * this row hash-gates the scored margins.
    */
  def lrQuality(s: SparkSession, dir: String): DataFrame = {
    val degraded = expr(
      "instr('0123456789abcdef', substring(md5(concat('lrq:', cast(doc_id as string))), 1, 1)) <= 8")
    val junk = expr("repeat(' zz9 xq', cast(doc_id % 5 + 1 as int) * 10)")
    val aug = Tables.documents(s, dir).select(col("doc_id"),
      when(degraded, concat(col("text"), junk)).otherwise(col("text")).as("text"),
      (!degraded).cast("int").as("is_clean"))
    val feats = graft.core.CacheRegistry.register(
      graft.analytics.LogReg.features(aug, "doc_id", col("text"), col("is_clean"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val n = feats.count()
    val model = graft.analytics.LogReg.train(
      graft.analytics.LogReg.trainingSample(feats, "doc_id", n, cap = 1000000L))
    graft.analytics.LogRegModels.stash.put(dir, model)
    graft.analytics.LogReg.score(feats, "doc_id", model)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_json_extract" -> jsonExtract _,
    "q_fk_audit" -> fkAudit _,
    "q_null_audit" -> nullAudit _,
    "q_pk_audit" -> pkAudit _,
    "q_value_histogram" -> valueHistogram _,
    "q_first_per_day" -> firstPerDay _,
    "q_ks_drift" -> ksDrift _,
    "q_stream_ks" -> streamKs _,
    "q_key_skew" -> keySkew _,
    "q_lr_quality" -> lrQuality _)

  val oracleSql: Map[String, String] = Map(
    "q_json_extract" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(COUNT(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS n_parsed,
        |  CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
        |  CAST(MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_min,
        |  CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max,
        |  CAST(COUNT(DISTINCT CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_distinct
        |FROM events GROUP BY event_type""".stripMargin,

    "q_fk_audit" ->
      """SELECT COUNT(*) AS n_lineitems,
        |  CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
        |FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey""".stripMargin,

    "q_null_audit" ->
      """SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_user,
        |  CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_value,
        |  CAST(SUM(CASE WHEN props IS NULL OR props = '' THEN 1 ELSE 0 END) AS BIGINT) AS blank_props
        |FROM events""".stripMargin,

    "q_pk_audit" ->
      """SELECT COUNT(*) AS dup_keys, CAST(COALESCE(SUM(n), 0) AS BIGINT) AS dup_rows FROM (
        |  SELECT l_orderkey, l_linenumber, COUNT(*) AS n FROM lineitem
        |  GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1)""".stripMargin,

    "q_value_histogram" ->
      """SELECT CAST(FLOOR(value / 25) * 25 AS BIGINT) AS bucket, COUNT(*) AS n
        |FROM events GROUP BY 1""".stripMargin,

    "q_first_per_day" ->
      """SELECT user_id, epoch_ms(date_trunc('day', ts)) AS day_ms, event_id, event_type
        |FROM (SELECT user_id, ts, event_id, event_type,
        |        row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
        |          ORDER BY ts, event_id) AS rn
        |      FROM events)
        |WHERE rn = 1""".stripMargin,

    "q_key_skew" ->
      """WITH m AS (SELECT event_type, user_id, COUNT(*) AS mass
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
        |h AS (SELECT event_type, mass, COUNT(*) AS cnt FROM m GROUP BY 1, 2),
        |c AS (SELECT event_type, mass, cnt,
        |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY mass) AS cum_end,
        |    SUM(cnt) OVER (PARTITION BY event_type) AS n FROM h),
        |st AS (SELECT event_type, n,
        |    MAX(CASE WHEN cum_end - cnt <= CAST(FLOOR((n - 1) * 0.5) AS BIGINT)
        |              AND CAST(FLOOR((n - 1) * 0.5) AS BIGINT) < cum_end
        |             THEN mass END) AS p50_mass,
        |    MAX(CASE WHEN cum_end - cnt <= CAST(FLOOR((n - 1) * 0.99) AS BIGINT)
        |              AND CAST(FLOOR((n - 1) * 0.99) AS BIGINT) < cum_end
        |             THEN mass END) AS p99_mass,
        |    MAX(mass) AS max_mass,
        |    CAST(SUM(cnt * mass) AS BIGINT) AS n_rows
        |  FROM c GROUP BY 1, 2),
        |tk AS (SELECT event_type, user_id AS top_key FROM (
        |    SELECT event_type, user_id,
        |      ROW_NUMBER() OVER (PARTITION BY event_type
        |        ORDER BY mass DESC, user_id) AS rn FROM m)
        |  WHERE rn = 1)
        |SELECT st.event_type, CAST(st.n AS BIGINT) AS n_keys, st.n_rows,
        |  st.p50_mass, st.p99_mass, st.max_mass, tk.top_key,
        |  CAST((st.max_mass + GREATEST(st.p50_mass * 4, 1) - 1)
        |       // GREATEST(st.p50_mass * 4, 1) AS BIGINT) AS top_salt
        |FROM st JOIN tk USING (event_type)""".stripMargin,

    // q_stream_ks streams the same events and must land the identical
    // statistic — the histogram delta merge is exact — so the SAME
    // oracle gates both the batch and the streaming path.
    "q_stream_ks" -> ksOracle,
    "q_ks_drift" -> ksOracle)

  private lazy val ksOracle: String =
      """WITH h AS (
        |  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents,
        |    SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS ca,
        |    SUM(CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END) AS cb
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
        |c AS (
        |  SELECT event_type,
        |    SUM(ca) OVER (PARTITION BY event_type ORDER BY cents) AS cum_a,
        |    SUM(cb) OVER (PARTITION BY event_type ORDER BY cents) AS cum_b,
        |    SUM(ca) OVER (PARTITION BY event_type) AS na,
        |    SUM(cb) OVER (PARTITION BY event_type) AS nb
        |  FROM h)
        |-- numerator in HUGEINT (128-bit): floor `//` semantics like the
        |-- original BIGINT form, no Int64 ceiling — DECIMAL `//` in DuckDB
        |-- ROUNDS rather than floors. ks_num's OUTPUT is VARCHAR (digits
        |-- only, matching the Spark STRING column): a raw DECIMAL output
        |-- proved canonicalization-fragile across harnesses (r15)
        |SELECT event_type, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
        |  CAST(MAX(ABS(CAST(cum_a AS HUGEINT) * nb - CAST(cum_b AS HUGEINT) * na)) AS VARCHAR) AS ks_num,
        |  CAST((1000 * MAX(ABS(CAST(cum_a AS HUGEINT) * nb - CAST(cum_b AS HUGEINT) * na)))
        |       // GREATEST(CAST(na AS HUGEINT) * nb, 1) AS BIGINT) AS ks_mills
        |FROM c GROUP BY event_type, na, nb""".stripMargin

  // q_lr_quality's oracle is data-dependent (trained weights as literals):
  // graft.analytics.LogRegModels.oracleEntries, merged in SparkEntry.
}
