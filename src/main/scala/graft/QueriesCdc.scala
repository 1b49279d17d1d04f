package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{RowKey, SessionConf, Tables, Tmp}
import graft.changelog.Changelog
import graft.encode.{CommonFormatJson, SqlDml}
import graft.filters.RowFilter
import graft.snapshot.Snapshot

/** CDC-parity query catalog: each query exercises one operator from
  * SURVEY.md §2 over the driver fixtures, with a DuckDB oracle in
  * [[SparkEntry.oracleSql]].
  *
  * Determinism rules shared with the oracles:
  *  - double SUMs are computed over quantized integers (cents) — exact under
  *    any aggregation order;
  *  - timestamps leave the plan as epoch-millis BIGINT or DATE, never as
  *    raw timestamp columns (writer-side tz-annotation differs between
  *    engines);
  *  - every derived integer column is BIGINT on both sides.
  */
object QueriesCdc {

  private def lineitem(s: SparkSession, dir: String) = Tables.lineitem(s, dir)
  private def events(s: SparkSession, dir: String) = Tables.events(s, dir)

  /** Streaming-source FIXTURE memoization: the file fixtures the stream
    * queries replay are deterministic functions of the sf dir, and the
    * fixture write is test scaffolding, not the measured operator (a
    * production stream reads a source that already exists) — so each is
    * built once per JVM ([[Tmp.stagedOnce]]) and repeats measure only
    * the replay.
    * Deliberately NOT memoized: kafka produce (the roundtrip metric IS
    * produce+consume) and the binlog binary encode (the wire-format
    * encode is the operator under test).
    */
  /** Stateful-stream queries pin their state-partition count explicitly:
    * a streaming job's shuffle partitioning is frozen into the state
    * store at first start, so it is a deliberate per-job capacity choice
    * (Spark's own streaming guidance), not something to inherit from the
    * batch session default. Local fixtures carry tens of thousands of
    * events — 8 partitions each holding real state beat 32 mostly-empty
    * stores paying per-batch open/commit; a 100 TB deployment sets this
    * to its executor width at FIRST launch of the job, same knob.
    */
  private[graft] def withStatePartitions[T](s: SparkSession, n: Int)(body: => T): T =
    SessionConf.scoped(s, "spark.sql.shuffle.partitions" -> n.toString)(body)

  /** Run a stateful stream on the RocksDB state store provider — the
    * production backend for large state (changelog-file commits instead
    * of full HDFS snapshot files per batch per partition). Measured at
    * sf0.1: single-store aggregations get faster (dedup 1.19 → 0.87 s,
    * session 2.11 → 1.87, window 1.38 → 1.28 — less per-batch file
    * churn). r13 moved the multi-store family (stream-stream join: FOUR
    * stores per partition; LSH near-dup) onto RocksDB too — at 100 TB
    * join state is exactly what does not fit a JVM heap — after taming
    * the per-instance native cost r12 measured: `boundedMemoryUsage`
    * shares ONE block cache + write-buffer manager across every store
    * in the executor (instead of per-instance default arenas), and
    * `trackTotalNumberOfRows=false` drops the per-op get-before-put
    * bookkeeping (a metrics-only feature; semantics unchanged). At
    * 100 TB state the trade only widens toward RocksDB: snapshot-file
    * cost scales with state size, changelog commits with the delta.
    */
  private[graft] def withRocksDbState[T](s: SparkSession)(body: => T): T =
    SessionConf.scoped(s,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage" -> "true",
      "spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB" -> "512",
      "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" -> "false",
      // r20: commit = changelog delta upload instead of a full snapshot
      // zip per store per batch. The r20 micro-batch phase profile (`git
      // show 9f24135:src/main/scala/graft/tools/R20StreamProf.scala`)
      // attributed the bulk of addBatch's non-compute cost to state
      // commits — summed across instances q_stream_neardup paid 29.8 s
      // of snapshot commits in one replay, 4.9 s with changelog commits.
      // Snapshot construction moves to background maintenance, which a
      // bounded replay never pays. This is the production setting for
      // commit-latency-bound streams; checkpoint format changes, but
      // every checkpoint here is per-run scratch (Tmp.replay) so
      // nothing persisted crosses a version boundary.
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")(body)

  /** Drain an append-mode stream through the parquet FILE sink and read
    * the committed result back — the scalable replacement for the memory
    * sink on every row whose output is CORPUS-sized. The r15 sf100
    * (1000×) probe caught the ceiling directly: q_stream_join's memory
    * sink collects all results onto the driver, and at sf100 the
    * serialized output blew `spark.driver.maxResultSize` (>1 GiB) while
    * the join itself was healthy — a sink defect, not a plan defect, and
    * one every corpus-sized row here shared (q_stream_session emits
    * ~955k rows already at sf1). The file sink's `_spark_metadata`
    * commit log keeps read-back exactly-once (the kafkaSocket
    * precedent), and its cost rides the executors, never the driver.
    * Domain-bounded COMPLETE-mode aggregates (q_stream_window's time
    * buckets, q_stream_retract's MV) stay on the memory sink: complete
    * mode is unsupported by the file sink, and their output is the
    * aggregate domain, not the stream.
    */
  private def drainToParquet(s: SparkSession, df: DataFrame, tag: String,
      dir: String, ckptPrefix: String): DataFrame = {
    val outDir = Tmp.staged(tag, dir)
    Tmp.deleteRecursively(java.nio.file.Paths.get(outDir))
    Tmp.replay(ckptPrefix) { ckpt =>
      df.writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    s.read.parquet(outDir)
  }

  /** S1+F1: snapshot scan with pushed-down row filter + projection. */
  def snapshotScan(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .filter(col("l_quantity") > 30 && col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))

  /** F1: RowFilter config compiled to a pushed predicate. */
  def snapshotRowFilter(s: SparkSession, dir: String): DataFrame = {
    val filters = Seq(
      RowFilter("l_returnflag", "=", Seq("A", "N"), "OR"),
      RowFilter("l_quantity", ">", Seq("45"), "AND"))
    Snapshot.scan(lineitem(s, dir), filters,
      keep = Seq("l_returnflag", "l_quantity"),
      pkCols = Seq("l_orderkey", "l_linenumber"))
  }

  /** F2: projection with PK protection (PK retained even if not requested). */
  def projectionPk(s: SparkSession, dir: String): DataFrame =
    Snapshot.scan(
      lineitem(s, dir).withColumn("ship_date", col("l_shipdate").cast("date")),
      filters = Seq(RowFilter("l_shipdate", "<", Seq("1996-01-01 00:00:00"))),
      keep = Seq("ship_date"),
      pkCols = Seq("l_orderkey", "l_linenumber"))

  private def opEvents(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .filter(col("event_type").isin("signup", "click", "error"))
      .withColumn("src_op",
        when(col("event_type") === "signup", "insert")
          .when(col("event_type") === "click", "update")
          .otherwise("delete"))

  /** Changelog semantics: update => delete+insert pair (delete first). */
  def changelogExpand(s: SparkSession, dir: String): DataFrame =
    Changelog.expandUpdates(
        opEvents(s, dir).select(col("event_id"), col("src_op").as("op"), col("user_id"), col("value")))
      .select(col("event_id"), col("op"), col("half").cast("long").as("half"),
        col("user_id"), col("value"))

  /** F3: NoDeleteOnUpdate gating — updates keep only their insert half. */
  def eventGate(s: SparkSession, dir: String): DataFrame = {
    val src = opEvents(s, dir).select(
      col("event_id"), col("src_op").as("op"), col("src_op").as("src_op"), col("user_id"))
    Changelog.noDeleteOnUpdate(Changelog.expandUpdates(src), col("src_op"))
      .select(col("event_id"), col("op"), col("user_id"))
  }

  /** F4: registration routing — broadcast left-semi join. */
  def routeRegistered(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val regs = Seq(1L, 2L, 3L, 5L, 8L, 13L, 21L, 34L).toDF("user_id")
    Changelog.routeRegistered(
      events(s, dir).select(col("event_id"), col("user_id"), col("event_type")),
      regs, "user_id")
  }

  /** O4: per-cluster monotone seqno (window, partitioned => scalable). */
  def seqnoAssign(s: SparkSession, dir: String): DataFrame =
    Changelog.assignSeqno(
        events(s, dir).select(col("event_id"), col("user_id"), col("ts")),
        "user_id", Seq(col("ts"), col("event_id")))
      .select(col("event_id"), col("user_id"), col("seqno").cast("long").as("seqno"))

  /** E7: length-prefixed row key (byte-parity with GetRowKey). */
  def rowKeyQ(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir).select(col("l_orderkey"), col("l_linenumber"),
      RowKey.rowKey(Seq(col("l_orderkey"), col("l_linenumber"))))

  /** §1.3: partition key distribution (Kafka key-partitioning analogue). */
  def partitionKeyQ(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .select(RowKey.partitionKey(col("l_orderkey"), 32).as("pkey"))
      .groupBy("pkey").agg(count(lit(1)).as("n"))

  /** E1: Common Format JSON encoding at the sink edge (typed values,
    * reference wire shape).
    */
  def cfJson(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, IntegerType, StringType}
    lineitem(s, dir)
      .filter(col("l_orderkey") % 100 === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        CommonFormatJson.insertJson(
          key = Seq(col("l_orderkey") -> LongType, col("l_linenumber") -> IntegerType),
          seqNo = col("l_orderkey") * 10 + col("l_linenumber"),
          timestamp = lit(0L),
          fields = Seq(
            ("l_returnflag", col("l_returnflag"), StringType),
            ("l_linestatus", col("l_linestatus"), StringType))).as("cf_json"))
  }

  private val dmlCols = Seq(
    ("l_orderkey", col("l_orderkey"), false),
    ("l_linenumber", col("l_linenumber"), false),
    ("l_returnflag", col("l_returnflag"), true))

  /** E4: SQL DML generation (INSERT). */
  def sqlDml(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .filter(col("l_orderkey") % 50 === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        SqlDml.insertStmt("lineitem", col("l_orderkey") * 10 + col("l_linenumber"), dmlCols)
          .as("stmt"))

  /** E4: idempotent DML — last-writer-wins by seqno, non-PK columns only. */
  def sqlDmlIdempotent(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .filter(col("l_orderkey") % 50 === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        SqlDml.insertIdempotentStmt("lineitem",
          col("l_orderkey") * 10 + col("l_linenumber"), dmlCols,
          pkCols = Set("l_orderkey", "l_linenumber")).as("stmt"))

  /** E8: type normalization at the scan edge. */
  def typeNorm(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .filter(col("l_orderkey") % 50 === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("long").as("qty_int"),
        col("l_orderkey").cast("string").as("ok_str"),
        col("l_shipdate").cast("date").as("ship_date"),
        (col("l_linenumber") === 1).as("is_first"))

  /** O10: fan-out — one event stream to N outputs. */
  def fanout(s: SparkSession, dir: String): DataFrame = {
    val base = events(s, dir).filter(col("event_type") === "signup").select(col("event_id"))
    base.withColumn("sink", lit("kafka"))
      .unionByName(base.withColumn("sink", lit("file")))
  }

  /** O3: snapshot-then-stream handoff — snapshot state before the fence,
    * changelog after, merged latest-wins by (tms, event_id).
    */
  def handoffMerge(s: SparkSession, dir: String): DataFrame = {
    val fenceMs = 1705276800000L // 2024-01-15T00:00:00Z
    val e = events(s, dir).select(col("event_id"), col("user_id"), col("value"),
      unix_millis(col("ts")).as("tms"))
    val snapshot = e.filter(col("tms") < fenceMs).withColumn("src", lit("snapshot"))
    val log = e.filter(col("tms") >= fenceMs).withColumn("src", lit("log"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("tms").desc, col("event_id").desc)
    snapshot.unionByName(log)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("value").as("last_value"), col("src"),
        col("event_id").as("last_event"))
  }

  /** S2 native path: events replayed as a binlog fixture through the
    * DataSource-V2 streaming source with GTID-set offsets
    * ([[graft.sources.BinlogMicroBatchStream]]), demuxed downstream.
    *
    * The fixture derivation is SQL-expressible so DuckDB can oracle the
    * round-trip: 4 source-server UUIDs keyed by user_id%4, per-UUID
    * sequential GNOs, op from event_type. The binlog file itself is
    * written by executors (single ordered partition — a binlog IS one
    * ordered stream per cluster); the stream then runs in several
    * micro-batches (maxEventsPerTrigger) so GTID offsets advance the way
    * they would in production, and the memory-sink result is returned as
    * a batch DataFrame.
    */
  def changelogNative(s: SparkSession, dir: String): DataFrame = {
    val base = events(s, dir)
      .filter(col("event_type").isin("signup", "click", "error"))
      .select(
        col("event_id").as("seq"),
        concat(lit("00000000-0000-0000-0000-00000000000"),
          (col("user_id") % 4).cast("string")).as("uuid"),
        row_number().over(
          Window.partitionBy(col("user_id") % 4).orderBy(col("event_id")))
          .cast("long").as("gno"),
        when(col("event_type") === "signup", "insert")
          .when(col("event_type") === "click", "update")
          .otherwise("delete").as("op"),
        lit("graft").as("db"),
        lit("events").as("tbl"),
        unix_millis(col("ts")).as("ts"),
        to_json(struct(
          col("event_id"),
          col("user_id"),
          round(col("value") * 100).cast("long").as("value_cents"))).as("payload"))
    val (part, nEvents) = Tmp.stagedOnce("binlog_native", dir) { fixtureDir =>
      base
        .select(to_json(struct(col("seq"), col("uuid"), col("gno"), col("op"),
          col("db"), col("tbl"), col("ts"), col("payload"))).as("value"))
        .repartition(1).sortWithinPartitions(get_json_object(col("value"), "$.seq").cast("long"))
        .write.mode("overwrite").text(fixtureDir)
      val p = new java.io.File(fixtureDir).listFiles()
        .filter(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
        .map(_.getAbsolutePath).min
      (p, base.count())
    }
    // ~4 micro-batches at ANY scale factor: still exercises GTID offset
    // advancement across batches without paying per-batch planning
    // overhead 60x at larger SFs (micro-batch count, not size, is what
    // the restart contract needs)
    drainToParquet(s,
      s.readStream.format("graft-binlog")
        .option("path", part)
        .option("maxEventsPerTrigger", math.max(1024L, nEvents / 4 + 1))
        .load(),
      "chnative_out", dir, "graft-binlog-native-ckpt")
      .select(
        col("seq").as("event_id"),
        col("gtid_uuid"),
        col("gno"),
        col("op"),
        get_json_object(col("payload"), "$.user_id").cast("long").as("user_id"),
        get_json_object(col("payload"), "$.value_cents").cast("long").as("value_cents"))
  }

  /** S2 over the REAL MySQL binlog v4 wire format: typed rows are encoded
    * into a binary binlog ([[graft.changelog.BinlogWire]] — magic, FDE,
    * CRC32-checksummed GTID/TABLE_MAP/ROWS/XID events, column names via
    * `binlog_row_metadata=FULL` optional metadata, NEWDECIMAL packing),
    * then tailed back through the same `graft-binlog` DSv2 streaming
    * source, which auto-detects the binary format. Updates carry real
    * before-images (value_cents - 1) and deletes carry only the before
    * image, exercising the per-op row-image layout end to end; the whole
    * derivation is SQL-expressible so DuckDB oracles the round trip.
    */
  /** Encode the SQL-derivable event changelog into a REAL binary binlog
    * at `path`; returns the event count (ridden on an accumulator off the
    * encode pass itself — sizing maxEventsPerTrigger must not cost a
    * second full job over the same derivation).
    */
  /** @param segments >1 writes `path` as a DIRECTORY of that many
    *   `seg-NNNNN.binlog` files, each a complete binlog (own FD event)
    *   covering a contiguous event_id range, encoded in PARALLEL — the
    *   per-event CRC32 encode was the catalog's one unsplittable-looking
    *   fixture cost (34 s single-stream at sf1), but the log format
    *   itself rotates files in production (binlog.000001, .000002, ...),
    *   so segment-per-range replayed in name order IS the contract.
    *   Segment boundaries sit on event_id range splits, so the
    *   concatenated (uuid, gno) index — and therefore the GTID offset
    *   plan and every replayed row — is bit-identical to the
    *   single-file encode. 1 keeps the single ordered file (the socket
    *   fixtures serve one image over the wire).
    */
  private[graft] def buildBinaryLog(s: SparkSession, dir: String, path: String,
      segments: Int = 1): Long = {
    import graft.changelog.BinlogWire
    val base = events(s, dir)
      .filter(col("event_type").isin("signup", "click", "error"))
      .select(
        col("event_id"),
        col("user_id"),
        col("event_type").as("etype"),
        round(col("value") * 100).cast("long").as("value_cents"),
        concat(lit("00000000-0000-0000-0000-00000000000"),
          (col("user_id") % 4).cast("string")).as("uuid"),
        row_number().over(
          Window.partitionBy(col("user_id") % 4).orderBy(col("event_id")))
          .cast("long").as("gno"),
        when(col("event_type") === "signup", "insert")
          .when(col("event_type") === "click", "update")
          .otherwise("delete").as("op"),
        unix_millis(col("ts")).as("ts_ms"))
    val nAcc = s.sparkContext.longAccumulator("graft_binlog_binary_rows")
    // segments==1: single ordered partition (a binlog is one ordered
    // stream per cluster); segments>1: range-split on event_id so each
    // partition encodes one contiguous segment file in parallel
    val arranged =
      if (segments == 1) base.repartition(1).sortWithinPartitions(col("event_id"))
      else base.repartitionByRange(segments, col("event_id"))
        .sortWithinPartitions(col("event_id"))
    arranged
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        val segPath =
          if (segments == 1) path
          else f"$path/seg-${org.apache.spark.TaskContext.getPartitionId()}%05d.binlog"
        val table = BinlogWire.TableDef("graft", "events", Seq(
          BinlogWire.Col("event_id", BinlogWire.T.LONGLONG),
          BinlogWire.Col("user_id", BinlogWire.T.LONGLONG),
          BinlogWire.Col("etype", BinlogWire.T.VARCHAR, meta = 32),
          BinlogWire.Col("value_cents", BinlogWire.T.LONGLONG),
          BinlogWire.Col("value_dec", BinlogWire.T.NEWDECIMAL, meta = (12 << 8) | 2)))
        val entries = it.map { r =>
          nAcc.add(1)
          val cents = r.getAs[Long]("value_cents")
          val img: IndexedSeq[Any] = IndexedSeq(
            java.lang.Long.valueOf(r.getAs[Long]("event_id")),
            java.lang.Long.valueOf(r.getAs[Long]("user_id")),
            r.getAs[String]("etype"),
            java.lang.Long.valueOf(cents),
            java.math.BigDecimal.valueOf(cents, 2))
          val row = r.getAs[String]("op") match {
            case "insert" => BinlogWire.Row("insert", None, Some(img))
            case "delete" => BinlogWire.Row("delete", Some(img), None)
            case "update" =>
              val before = img.updated(3, java.lang.Long.valueOf(cents - 1): Any)
                .updated(4, java.math.BigDecimal.valueOf(cents - 1, 2): Any)
              BinlogWire.Row("update", Some(before), Some(img))
          }
          BinlogWire.Txn(r.getAs[String]("uuid"), r.getAs[Long]("gno"),
            r.getAs[Long]("ts_ms"), table, Seq(row))
        }
        graft.sources.BinlogFixture.writeBinary(segPath, entries)
      }
    nAcc.value.longValue()
  }

  /** The shared demux projection over a binlog memory-sink table. */
  private def binlogReplayProjection(drained: DataFrame): DataFrame = {
    val sch = "event_id BIGINT, user_id BIGINT, etype STRING, value_cents BIGINT, value_dec DECIMAL(12,2)"
    drained
      .select(col("gtid_uuid"), col("gno"), col("op"),
        from_json(col("payload"), org.apache.spark.sql.types.StructType.fromDDL(sch)).as("r"),
        from_json(col("before"), org.apache.spark.sql.types.StructType.fromDDL(sch)).as("b"))
      .select(col("r.event_id").as("event_id"), col("gtid_uuid"), col("gno"),
        col("op"), col("r.user_id").as("user_id"), col("r.etype").as("etype"),
        col("r.value_cents").as("value_cents"),
        col("r.value_dec").cast("string").as("value_dec"),
        col("b.value_cents").as("before_cents"))
  }

  def binlogBinary(s: SparkSession, dir: String): DataFrame = {
    // NOT memoized: the wire-format encode IS the operator under test.
    // Encoded as 16 rotated segment files in parallel (see buildBinaryLog)
    // — sf1 measured the single-stream encode at 34 s; the rotated
    // encode is the same bytes per segment, same replay order, same hash.
    val path = Tmp.staged("binlog_binary", dir)
    val nEvents = buildBinaryLog(s, dir, path, segments = 16)
    binlogReplayProjection(drainToParquet(s,
      s.readStream.format("graft-binlog")
        .option("path", path)
        .option("maxEventsPerTrigger", math.max(1024L, nEvents / 4 + 1))
        .load(),
      "binbin_out", dir, "graft-binlog-binary-ckpt"))
  }

  /** S2 over the REAL replication SOCKET: the binary fixture log is
    * served by a loopback [[graft.changelog.MysqlRepl.Server]] speaking
    * the actual MySQL wire protocol (HandshakeV10 → HandshakeResponse41 →
    * OK → COM_BINLOG_DUMP_GTID), and the `graft-binlog` DSv2 source
    * consumes `mysql://127.0.0.1:port`. Every micro-batch's partition
    * reader dials the server anew and ships its start GTID set inside
    * the dump command — so this row drives a genuine
    * reconnect-and-resume on the wire per batch, the
    * `BinlogSyncer.StartSyncGTID` contract of
    * /root/reference/changelog/mysql.go:911-968. Same demux and oracle
    * shape as [[binlogBinary]]; the fixture encode is memoized (the
    * operator under test here is the socket, not the encoder).
    */
  def changelogSocket(s: SparkSession, dir: String): DataFrame = {
    val (path, nEvents) = Tmp.stagedOnce("binlogsock", dir) { p =>
      (p, buildBinaryLog(s, dir, p))
    }
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val srv = new graft.changelog.MysqlRepl.Server(bytes)
    val drained = try {
      drainToParquet(s,
        s.readStream.format("graft-binlog")
          .option("path", srv.url)
          .option("maxEventsPerTrigger", math.max(1024L, nEvents / 4 + 1))
          .load(),
        "binsock_out", dir, "graft-binlog-socket-ckpt")
    } finally srv.close()
    binlogReplayProjection(drained)
  }

  /** DDL THROUGH THE SOCKET end-to-end (O9 composed with S2) — the
    * reference's hardest main-loop behavior
    * (/root/reference/changelog/mysql.go:566-683 handleQueryEvent +
    * :911-968 readEvents): an ALTER TABLE rides INSIDE the binary binlog,
    * is served over the real replication socket by
    * [[graft.changelog.MysqlRepl.Server]], classified by
    * [[graft.changelog.Ddl]], applied by
    * [[graft.changelog.AlterSchema.mutate]], and the streaming query is
    * stopped and relaunched with the post-ALTER schema by
    * [[graft.stream.SchemaRestartLoop]] from the same checkpoint.
    *
    * The fixture: rows with event_id <= max/2 carry 4-column images
    * (no value_dec); then `ALTER TABLE graft.events ADD COLUMN value_dec
    * decimal(12,2)`; then 5-column images. The restart is LOAD-BEARING,
    * not ceremony: each incarnation parses payloads with
    * `from_json(Schema.toStructType(launchSchema))`, so if the loop
    * failed to relaunch, post-ALTER rows would lose value_dec (the
    * 4-field struct drops unknown fields) and the hash would mismatch.
    * The micro-batch holding the DDL aborts mid-batch (rows before the
    * ALTER are written under the old schema, then the query restarts);
    * its replay re-delivers the DDL — fenced to AlreadyApplied by the
    * GTID schema fence in [[graft.state.StateStore]] — and rewrites the
    * batch directory idempotently (overwrite by batchId), so
    * at-least-once replay stays hash-exact.
    */
  def ddlSocket(s: SparkSession, dir: String): DataFrame = {
    import graft.core.Schema
    import graft.core.Schema.{ColumnSchema, TableSchema}
    import graft.stream.{SchemaFlow, SchemaRestartLoop}

    val (path, built) = Tmp.stagedOnce("ddlsock", dir) { p =>
      (p, buildDdlLog(s, dir, p))
    }
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val srv = new graft.changelog.MysqlRepl.Server(bytes)
    // work dir WIPED at entry: the batch parquet must outlive this call
    // (the returned DataFrame reads it lazily), so each run reclaims the
    // previous run's ~tens of MB instead of leaking one dir per
    // invocation (ambient /tmp pressure measurably skewed multimodal rows
    // in r11 — see BASELINE.md ImageIO addendum)
    val work = java.nio.file.Paths.get(Tmp.staged("ddlsock_work", dir))
    Tmp.deleteRecursively(work)
    java.nio.file.Files.createDirectories(work)
    val dataDir = s"$work/data"
    try {
      val state = new graft.state.StateStore(s"$work/state")
      val v1 = TableSchema("graft", "events", Seq(
        ColumnSchema("event_id", 1, isNullable = false, "bigint", key = "PRI"),
        ColumnSchema("user_id", 2, isNullable = false, "bigint"),
        ColumnSchema("etype", 3, isNullable = true, "varchar", columnType = "varchar(32)"),
        ColumnSchema("value_cents", 4, isNullable = true, "bigint")))
      // Driver-side DDL boundary bookkeeping, shared across incarnations:
      // rows with seq < ddlSeq were governed by the pre-ALTER schema.
      var ddlSeq = Long.MaxValue
      var preCols = v1.columns.length
      val loop = new SchemaRestartLoop(repull =
        () => throw new IllegalStateException("ADD COLUMN applies locally; no repull"))
      val (_, restarts) = loop.run(v1, (schema, signal) => {
        val struct = Schema.toStructType(schema)
        val launchCols = schema.columns.length
        def write(b: DataFrame, batchId: Long): Unit =
          b.filter(col("op") =!= "ddl")
            .select(
              from_json(col("payload"), struct).as("r"),
              col("gtid_uuid"), col("gno"),
              when(col("seq") < lit(ddlSeq), lit(preCols)).otherwise(lit(launchCols))
                .cast("long").as("n_schema_cols"))
            .select(col("r.event_id").as("event_id"), col("gtid_uuid"), col("gno"),
              col("r.user_id").as("user_id"), col("r.etype").as("etype"),
              col("r.value_cents").as("value_cents"),
              (if (struct.fieldNames.contains("value_dec"))
                 col("r.value_dec").cast("string") else lit(null).cast("string"))
                .as("value_dec"),
              col("n_schema_cols"))
            .write.mode("overwrite").parquet(s"$dataDir/batch=$batchId")
        s.readStream.format("graft-binlog")
          .option("path", srv.url)
          // 55% of the log per trigger: the DDL (at the median event)
          // lands MID-batch-0 — the abort/replay protocol is exercised on
          // the very first trigger — and the remainder is exactly one
          // more batch, so the restart loop pays the fewest trigger
          // constants that still cover multi-batch admission + mid-batch
          // abort (3 batch bodies total vs 4 with a 1/3 cap)
          .option("maxEventsPerTrigger", math.max(256L, built * 11 / 20 + 1))
          .load()
          .writeStream
          .option("checkpointLocation", s"$work/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (batch0: DataFrame, batchId: Long) =>
            // ONE job per DDL-free batch: the DDL probe rides the write
            // job as an Observation (a map-side aggregate over the same
            // scan) instead of a separate collect — halving both the job
            // count and the socket re-dials. The batch is written IN
            // FULL first; only when the observation reports a mid-batch
            // schema change does a second job rewrite the dir with the
            // pre-ALTER prefix before aborting (the replay then rewrites
            // it again under the new schema — same overwrite-by-batchId
            // idempotence the replay path always relied on). The fixture
            // over-represents the rare case (1 DDL in 3 batches, so one
            // batch pays the extra rewrite and the wall time is a wash
            // here); in production DDL touches 1 batch in thousands and
            // every other batch keeps the single-job shape.
            val obs = new org.apache.spark.sql.Observation(
              s"graft-ddl-$batchId-${System.nanoTime()}")
            val observed = batch0.observe(obs,
              collect_list(when(col("op") === "ddl",
                org.apache.spark.sql.functions.struct( // `struct` name is the launch schema here
                  col("seq"), col("gtid_uuid"), col("gno"), col("payload"))))
                .as("ddls"))
            write(observed, batchId)
            val ddls = obs.get.apply("ddls").asInstanceOf[Seq[org.apache.spark.sql.Row]]
              .sortBy(_.getAs[Long]("seq"))
            ddls.foreach { r =>
              val seq = r.getAs[Long]("seq")
              val gtid = s"${r.getAs[String]("gtid_uuid")}:${r.getAs[Long]("gno")}"
              SchemaFlow.onQueryEvent(state, schema, r.getAs[String]("payload"), gtid, seq) match {
                case SchemaFlow.SchemaChanged(next, _) =>
                  // commit rows BEFORE the ALTER under the old schema,
                  // then stop; the batch replays under the new one
                  write(batch0.filter(col("seq") < seq), batchId)
                  preCols = launchCols
                  ddlSeq = seq
                  signal.schemaChanged(next)
                case SchemaFlow.NeedsRepull(reason) => signal.needsRepull(reason)
                case SchemaFlow.AlreadyApplied => ddlSeq = seq // replay: boundary known
                case SchemaFlow.NotSchemaRelated => ()
              }
            }
          }.start()
      })
      require(restarts == 1, s"expected exactly one schema restart, got $restarts")
      // explicit per-batch dirs, not a glob: FileStreamSink.hasMetadata
      // stats the literal glob string first and logs a noisy (harmless)
      // FileNotFoundException stack on every run
      val batchDirs = new java.io.File(dataDir).listFiles()
        .filter(_.getName.startsWith("batch=")).map(_.getPath).sorted
      // explicit schema: every batch dir writes these 8 columns, so the
      // footer-merge inference pass (a listing + footer-read job over all
      // batch dirs before the real scan) is pure overhead
      val outSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("gtid_uuid", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("gno", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("etype", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value_cents", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("value_dec", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_schema_cols", org.apache.spark.sql.types.LongType)))
      s.read.schema(outSchema).parquet(batchDirs.toIndexedSeq: _*)
        .select("event_id", "gtid_uuid", "gno", "user_id", "etype",
          "value_cents", "value_dec", "n_schema_cols")
    } finally srv.close()
  }

  /** Binary log for [[ddlSocket]]: 4-column images up to the median
    * event_id, the ALTER as a real QUERY event in its own GTID
    * transaction, 5-column images after. Returns the event count
    * (rows + 1 DDL) for admission sizing.
    */
  private def buildDdlLog(s: SparkSession, dir: String, path: String): Long = {
    import graft.changelog.BinlogWire
    val base = events(s, dir)
      .filter(col("event_type").isin("signup", "click"))
      .select(
        col("event_id"),
        col("user_id"),
        col("event_type").as("etype"),
        round(col("value") * 100).cast("long").as("value_cents"),
        concat(lit("00000000-0000-0000-0000-00000000000"),
          (col("user_id") % 4).cast("string")).as("uuid"),
        row_number().over(
          Window.partitionBy(col("user_id") % 4).orderBy(col("event_id")))
          .cast("long").as("gno"),
        unix_millis(col("ts")).as("ts_ms"))
    // `div` truncates in both engines (DuckDB mirrors with `//`)
    val thr = base.agg(expr("max(event_id) div 2").as("t")).collect()(0).getAs[Long]("t")
    val nAcc = s.sparkContext.longAccumulator("graft_ddl_socket_rows")
    base.repartition(1).sortWithinPartitions(col("event_id"))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        val colsV1 = Seq(
          BinlogWire.Col("event_id", BinlogWire.T.LONGLONG),
          BinlogWire.Col("user_id", BinlogWire.T.LONGLONG),
          BinlogWire.Col("etype", BinlogWire.T.VARCHAR, meta = 32),
          BinlogWire.Col("value_cents", BinlogWire.T.LONGLONG))
        val tableV1 = BinlogWire.TableDef("graft", "events", colsV1)
        val tableV2 = BinlogWire.TableDef("graft", "events",
          colsV1 :+ BinlogWire.Col("value_dec", BinlogWire.T.NEWDECIMAL, meta = (12 << 8) | 2))
        val ddlUuid = "00000000-0000-0000-0000-000000000009"
        var ddlEmitted = false
        val entries: Iterator[BinlogWire.Entry] = it.flatMap { r =>
          nAcc.add(1)
          val id = r.getAs[Long]("event_id")
          val cents = r.getAs[Long]("value_cents")
          val common: IndexedSeq[Any] = IndexedSeq(
            java.lang.Long.valueOf(id),
            java.lang.Long.valueOf(r.getAs[Long]("user_id")),
            r.getAs[String]("etype"),
            java.lang.Long.valueOf(cents))
          val txn =
            if (id <= thr)
              BinlogWire.Txn(r.getAs[String]("uuid"), r.getAs[Long]("gno"),
                r.getAs[Long]("ts_ms"), tableV1,
                Seq(BinlogWire.Row("insert", None, Some(common))))
            else
              BinlogWire.Txn(r.getAs[String]("uuid"), r.getAs[Long]("gno"),
                r.getAs[Long]("ts_ms"), tableV2,
                Seq(BinlogWire.Row("insert", None,
                  Some(common :+ (java.math.BigDecimal.valueOf(cents, 2): Any)))))
          if (!ddlEmitted && id > thr) {
            ddlEmitted = true
            Iterator(
              BinlogWire.Ddl(ddlUuid, 1L, r.getAs[Long]("ts_ms"), "graft",
                "ALTER TABLE graft.events ADD COLUMN value_dec decimal(12,2)"),
              txn)
          } else Iterator(txn)
        }
        graft.sources.BinlogFixture.writeBinary(path, entries)
      }
    nAcc.value.longValue() + 1 // + the DDL event
  }

  /** K1+S3 round-trip: events produced into the loopback Kafka-shaped
    * pipe (keyed by user_id, partitioner = pmod so DuckDB can mirror it),
    * then consumed back through the `graft-kafka` DataSource-V2 streaming
    * source in several micro-batches. Per-partition offsets are
    * deterministic — the producer orders by event_id, so
    * offset = row_number() over (partition order by event_id) - 1 —
    * making the whole pipe contract (partition assignment, offset
    * sequencing, payload integrity) hash-checkable against the oracle.
    */
  def kafkaRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val nParts = 8
    val base = events(s, dir)
      .filter(col("event_type").isin("purchase", "view"))
      .select(
        col("event_id").as("ord"),
        col("user_id").cast("string").as("key"),
        col("user_id"),
        to_json(struct(col("event_id"),
          round(col("value") * 100).cast("long").as("value_cents"))).as("value"))
    val topicDir = Tmp.staged("kafka_topic", dir)
    // fresh topic per run (produce appends by contract)
    Tmp.deleteRecursively(java.nio.file.Paths.get(topicDir))
    val produced = graft.pipes.LoopbackPipe.produce(base, topicDir, nParts, col("ord"),
      partitionCol = Some(pmod(col("user_id"), lit(nParts))))
    // ~4 micro-batches at any SF (see changelogNative)
    drainToParquet(s,
      s.readStream.format("graft-kafka")
        .option("path", topicDir)
        .option("maxOffsetsPerTrigger", math.max(4096L, produced / 4 + 1))
        .load(),
      "krt_out", dir, "graft-kafka-rt-ckpt")
      .select(col("partition").cast("long").as("partition"), col("offset"),
        col("key").cast("long").as("user_id"),
        get_json_object(col("value"), "$.event_id").cast("long").as("event_id"),
        get_json_object(col("value"), "$.value_cents").cast("long").as("value_cents"))
  }

  /** O7 oracle-gated: the kafka round trip consumed under ADAPTIVE rate
    * admission ([[graft.stream.RateAdvice]] — the reference's
    * throttle.Advice loop as admission control, throttle/throttle.go).
    * The windowed cap forces many more, smaller micro-batches; the
    * oracle is identical to [[kafkaRoundtrip]] because rate limiting
    * must change WHEN rows arrive, never WHICH rows — any dropped or
    * duplicated row under throttling hash-mismatches.
    */
  def rateLimited(s: SparkSession, dir: String): DataFrame = {
    val nParts = 8
    val base = events(s, dir)
      .filter(col("event_type").isin("purchase", "view"))
      .select(
        col("event_id").as("ord"),
        col("user_id").cast("string").as("key"),
        col("user_id"),
        to_json(struct(col("event_id"),
          round(col("value") * 100).cast("long").as("value_cents"))).as("value"))
    val topicDir = Tmp.staged("kafka_rate", dir)
    Tmp.deleteRecursively(java.nio.file.Paths.get(topicDir))
    val produced = graft.pipes.LoopbackPipe.produce(base, topicDir, nParts, col("ord"),
      partitionCol = Some(pmod(col("user_id"), lit(nParts))))
    // target ~1/8 of the backlog per trigger: the drain needs >= 8
    // rate-limited batches (vs 4 for the plain roundtrip)
    drainToParquet(s,
      s.readStream.format("graft-kafka")
        .option("path", topicDir)
        .option("targetRowsPerTrigger", math.max(512L, produced / 8 + 1))
        .option("rateWindowTriggers", 4)
        .load(),
      "krate_out", dir, "graft-kafka-rate-ckpt")
      .select(col("partition").cast("long").as("partition"), col("offset"),
        col("key").cast("long").as("user_id"),
        get_json_object(col("value"), "$.event_id").cast("long").as("event_id"),
        get_json_object(col("value"), "$.value_cents").cast("long").as("value_cents"))
  }

  /** K1+S3 over the REAL wire: the same round-trip contract as
    * [[kafkaRoundtrip]], but both halves speak the actual Kafka protocol
    * (v0 APIs, v1 MessageSets, CRC32) against a loopback
    * [[graft.pipes.KafkaWire.Broker]] instead of the file pipe —
    * mirroring the q_changelog_socket / q_binlog_binary precedent.
    *
    *  - PRODUCE runs on the EXECUTORS: rows are repartitioned by the
    *    Kafka partition key (every broker partition owned by exactly one
    *    task, so broker-assigned offsets follow event order), sorted
    *    within partitions, and shipped in batched wire Produce requests
    *    from `foreachPartition` — the distributed shape a real producer
    *    job has on a 1000-executor cluster; only the broker address is
    *    loopback here.
    *  - CONSUME runs in two AvailableNow streams SHARING one checkpoint,
    *    with the second half of the data produced between them: the
    *    second run must resume from the checkpointed per-partition
    *    offsets over the wire, or the union double-counts / drops rows
    *    and the oracle hash catches it. That makes the checkpointed
    *    restart itself part of the correctness gate (reference:
    *    /root/reference/pipe/kafka.go:326-460,482-577).
    */
  /** Executor-side wire produce shared by [[kafkaSocket]] and the
    * source-recovery gate (SourceKillRecoverySpec): repartition by the
    * Kafka partition key (each broker partition owned by one task),
    * sort within partitions by event order, ship batched wire Produce
    * requests. Input must carry (ord, key, value) plus the columns `kp`
    * references.
    */
  private[graft] def produceWireEvents(df: DataFrame,
      kp: org.apache.spark.sql.Column, url: String, topic: String,
      nParts: Int): Unit = df
    .repartition(nParts, kp)
    .sortWithinPartitions(kp, col("ord"))
    .select(kp.cast("int").as("kpart"), col("key"), col("value"))
    .foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
      // consecutive same-partition runs, batched wire Produce calls
      val buf = scala.collection.mutable.ArrayBuffer
        .empty[(Array[Byte], Array[Byte], Long)]
      var cur = -1
      def flush(): Unit = if (buf.nonEmpty) {
        graft.pipes.KafkaWire.produce(url, topic, cur, buf.toSeq)
        buf.clear()
      }
      it.foreach { r =>
        val p = r.getInt(0)
        if (p != cur || buf.size >= 4000) { flush(); cur = p }
        buf += ((r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8),
          r.getString(2).getBytes(java.nio.charset.StandardCharsets.UTF_8), 0L))
      }
      flush()
    }

  def kafkaSocket(s: SparkSession, dir: String): DataFrame = {
    val nParts = 8
    val kp = pmod(col("user_id"), lit(nParts))
    val base = events(s, dir)
      .filter(col("event_type").isin("purchase", "view"))
      .select(
        col("event_id").as("ord"),
        col("user_id").cast("string").as("key"),
        col("user_id"),
        to_json(struct(col("event_id"),
          round(col("value") * 100).cast("long").as("value_cents"))).as("value"))
    // deterministic two-phase split: per-partition offset order must equal
    // event order overall, so the split point is an ord threshold — the
    // range midpoint, not the median (min/max/count is one cheap scan and
    // any deterministic threshold with rows on both sides serves)
    val (mid, total) = {
      val r = base.agg(min(col("ord")), max(col("ord")), count(lit(1))).first()
      ((r.getLong(0) + r.getLong(1)) / 2, r.getLong(2))
    }
    val broker = new graft.pipes.KafkaWire.Broker(nParts)
    try {
      val url = broker.url
      val topic = "graft_events"
      def produceWire(df: DataFrame): Unit =
        produceWireEvents(df, kp, url, topic, nParts)
      // parquet sink, not memory: the memory sink refuses checkpoint
      // recovery, and the file sink's _spark_metadata log is the
      // exactly-once mechanism a restarted production consumer actually
      // relies on — the read-back below sees each batch exactly once
      val outDir = Tmp.staged("kafka_sock_out", dir)
      Tmp.deleteRecursively(java.nio.file.Paths.get(outDir))
      // total/4 per trigger: each drain still runs MULTIPLE admission-
      // bounded micro-batches (2 full + tail), which is what the
      // admission-control contract needs — total/8 bought 5 batches per
      // drain and each micro-batch carries ~250 ms of fixed engine cost
      // (WAL commit + sink commit + planning), pure overhead at this SF
      def consume(ckpt: String) =
        s.readStream.format("graft-kafka")
          .option("path", s"$url/$topic")
          .option("maxOffsetsPerTrigger", math.max(4096L, total / 4 + 512))
          .load()
          .writeStream.format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      // both drains resume from the ONE checkpoint: the second consumes
      // only what the second produce appended
      Tmp.replay("graft-kafka-sock-ckpt") { ckpt =>
        produceWire(base.filter(col("ord") <= mid))
        consume(ckpt).awaitTermination()
        produceWire(base.filter(col("ord") > mid))
        consume(ckpt)
      }
      s.read.parquet(outDir)
        .select(col("partition").cast("long").as("partition"), col("offset"),
          col("key").cast("long").as("user_id"),
          get_json_object(col("value"), "$.event_id").cast("long").as("event_id"),
          get_json_object(col("value"), "$.value_cents").cast("long").as("value_cents"))
    } finally broker.close()
  }

  /** S3/O-surface e2e: the reference's IN-PROCESS consumer-group
    * redistribution ([[graft.pipes.TopicGroup]] — pipe/kafka.go:226-292
    * `redistributeConsumers`) driven through every membership transition
    * it defines, gated by the same oracle as [[kafkaRoundtrip]] because a
    * rebalance must change WHO consumes each partition, never WHAT is
    * consumed:
    *
    *  1. two consumers drain the first quarter of the topic;
    *  2. a third JOINS mid-flight (live re-split, in-flight lookahead
    *     re-offered to the new owner);
    *  3. one leaves GRACEFULLY (commits its partitions' next offsets
    *     exactly — the successor resumes with no overlap);
    *  4. one CRASHES (`kill()` — commits nothing; successors rewind to
    *     the last persisted offset, re-delivering the uncommitted
    *     window) and a fourth consumer replaces it.
    *
    * The crash leg makes the raw feed at-least-once, so the query
    * keeps LAST-delivery-wins by (partition, offset): loss of any record
    * (or a corrupted redelivery) still hash-mismatches, while the
    * permitted duplicates collapse. Consumption is driver-side by
    * construction — this IS the reference's control-plane consumer API
    * (its streamers poll in-process); the data-plane scale path remains
    * the DSv2 source (q_kafka_roundtrip), and the volume here is bounded
    * by the fixture topic.
    */
  def groupRebalance(s: SparkSession, dir: String): DataFrame = {
    val nParts = 8
    val base = events(s, dir)
      .filter(col("event_type").isin("purchase", "view"))
      .select(
        col("event_id").as("ord"),
        col("user_id").cast("string").as("key"),
        col("user_id"),
        to_json(struct(col("event_id"),
          round(col("value") * 100).cast("long").as("value_cents"))).as("value"))
    val topicDir = Tmp.staged("kafka_group", dir)
    Tmp.deleteRecursively(java.nio.file.Paths.get(topicDir))
    val produced = graft.pipes.LoopbackPipe.produce(base, topicDir, nParts, col("ord"),
      partitionCol = Some(pmod(col("user_id"), lit(nParts))))
    val conf = s.sparkContext.hadoopConfiguration
    // short persist interval so the crash-rewind window is exercised but
    // bounded (kafka.go:43-49 offsetPersistInterval)
    val group = new graft.pipes.TopicGroup(topicDir, "graft-rebalance", conf,
      persistInterval = 499L)
    val seen = new java.util.concurrent.ConcurrentHashMap[(Int, Long), graft.pipes.LoopbackPipe.Record]()
    try {
      import java.util.concurrent.atomic.AtomicBoolean
      def spawn(c: group.GroupConsumer): (Thread, AtomicBoolean) = {
        val stop = new AtomicBoolean(false)
        val t = new Thread(() => {
          while (!stop.get && seen.size < produced)
            c.poll(25).foreach(r => seen.put((r.partition, r.offset), r))
        }, "group-rebalance-consumer")
        t.setDaemon(true); t.start(); (t, stop)
      }
      def drainedTo(n: Long): Unit = {
        val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
        while (seen.size < math.min(n, produced)) {
          if (System.nanoTime() > deadline)
            sys.error(s"group drain stalled at ${seen.size}/$produced (target $n)")
          Thread.sleep(2)
        }
      }
      val a = group.newConsumer(); val (ta, sa) = spawn(a)
      val b = group.newConsumer(); val (tb, sb) = spawn(b)
      drainedTo(produced / 4)
      val c = group.newConsumer(); val (tc, sc) = spawn(c) // live join
      drainedTo(produced / 2)
      sa.set(true); ta.join(); a.close()                   // graceful leave
      drainedTo(3 * produced / 4)
      sb.set(true); tb.join(); b.kill()                    // crash leave
      val d = group.newConsumer(); val (td, sd) = spawn(d) // replacement
      drainedTo(produced)
      Seq(sc, sd).foreach(_.set(true)); tc.join(); td.join()
    } finally group.close()
    import scala.jdk.CollectionConverters._
    import s.implicits._
    val rows = seen.values.asScala.toSeq
      .map(r => (r.partition.toLong, r.offset, r.key.toLong, r.value))
    rows.toDF("partition", "offset", "user_id", "value")
      .select(col("partition"), col("offset"), col("user_id"),
        get_json_object(col("value"), "$.event_id").cast("long").as("event_id"),
        get_json_object(col("value"), "$.value_cents").cast("long").as("value_cents"))
  }

  /** The consumer-group redistribution COMPOSED with the streaming
    * engine (the round-11 verdict's task 6): a `graft-kafka` DSv2 run in
    * GROUP MODE, where each trigger's partitions are split among N
    * member readers by the reference's contiguous partsPerConsumer
    * arithmetic — the SAME [[graft.pipes.TopicGroup.contiguousSplit]]
    * the live thread-level rebalancer uses — and the member schedule
    * changes MID-STREAM (2 members → 3 join → 2 crash-leave → 3
    * rejoin, one step per trigger via the members log). A re-split
    * must change WHO reads a partition, never WHAT arrives: the
    * round-trip oracle (identical to q_group_rebalance's) gates that
    * rows stay exact across every membership change, and
    * KafkaGroupModeSpec pins the assignment arithmetic itself.
    * Mid-stream membership that Spark cannot see any other way —
    * executor-thread scheduling is opaque — becomes visible and
    * checkable at the planInputPartitions boundary.
    */
  def groupStream(s: SparkSession, dir: String): DataFrame = {
    val nParts = 8
    val base = events(s, dir)
      .filter(col("event_type").isin("purchase", "view"))
      .select(
        col("event_id").as("ord"),
        col("user_id").cast("string").as("key"),
        col("user_id"),
        to_json(struct(col("event_id"),
          round(col("value") * 100).cast("long").as("value_cents"))).as("value"))
    val topicDir = Tmp.staged("kafka_gstream", dir)
    Tmp.deleteRecursively(java.nio.file.Paths.get(topicDir))
    val produced = graft.pipes.LoopbackPipe.produce(base, topicDir, nParts, col("ord"),
      partitionCol = Some(pmod(col("user_id"), lit(nParts))))
    // the join/leave schedule, one line per trigger: 4 triggers (cap at
    // produced/4) walk 2 → 3 (join) → 2 (leave) → 3 (rejoin)
    val memberLog = Tmp.staged("kafka_gstream_members", dir)
    java.nio.file.Files.write(java.nio.file.Paths.get(memberLog),
      "2\n3\n2\n3\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    drainToParquet(s,
      s.readStream.format("graft-kafka")
        .option("path", topicDir)
        .option("maxOffsetsPerTrigger", math.max(4096L, produced / 4 + 1))
        .option("groupMembersLog", memberLog)
        .load(),
      "kgrp_out", dir, "graft-kafka-gstream-ckpt")
      .select(col("partition").cast("long").as("partition"), col("offset"),
        col("key").cast("long").as("user_id"),
        get_json_object(col("value"), "$.event_id").cast("long").as("event_id"),
        get_json_object(col("value"), "$.value_cents").cast("long").as("value_cents"))
  }

  /** Streaming windowed aggregation through the real streaming engine:
    * events replayed as a multi-batch file stream → watermarked tumbling
    * 1-hour windows ([[graft.stream.StreamOps.windowedCounts]]) → memory
    * sink in COMPLETE mode, which makes the oracle check deterministic
    * (every window emitted) at the cost of unbounded window state —
    * complete mode does not let the watermark evict anything. The
    * production-scale form of the same operator is append/update mode,
    * where the watermark bounds state; StreamOpsSpec verifies that form's
    * streaming==batch parity. Oracle is the batch equivalent in DuckDB.
    */
  def streamWindow(s: SparkSession, dir: String): DataFrame = {
    // 2 files -> 2 micro-batches: complete mode re-emits the FULL window
    // state every batch, so batch count multiplies the aggregation work —
    // two batches prove cross-batch accumulation at minimal re-agg cost
    val src = Tmp.stagedOnce("stream_src", dir) { p =>
      events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .repartition(2)
        .write.mode("overwrite").parquet(p)
      p
    }
    val stream = s.readStream
      .schema("event_id bigint, ts timestamp, user_id bigint, event_type string, value double")
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
    withStatePartitions(s, 8) {
      withRocksDbState(s) {
      Tmp.replay("graft-stream-window-ckpt") { ckpt =>
        graft.stream.StreamOps
          .windowedCounts(stream, "ts", "1 hour", "10 minutes", Seq("event_type"))
          .writeStream.format("memory").queryName("graft_stream_window")
          .outputMode("complete")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      }
    }
    s.table("graft_stream_window")
  }

  /** Streaming SESSION windows (30-minute gap) through the real engine:
    * `session_window` + watermark in append mode. Append only emits a
    * session once the watermark passes its end, so a bounded replay would
    * withhold every user's last session — the standard fix is an
    * end-of-stream SENTINEL event per user (2 h after the global max, >
    * gap from any real event) that advances the watermark past all real
    * session ends while forming its own (withheld) session. Sessions are
    * pure gap-islands, so the DuckDB oracle is the lag/cumsum
    * sessionization over real events.
    *
    * Scale shape: session state is per (user, open session), evicted at
    * the watermark — state size follows ACTIVE users in the gap horizon,
    * not history; the shuffle is the normal group-by-key exchange.
    */
  def streamSession(s: SparkSession, dir: String): DataFrame = {
    val src = Tmp.stagedOnce("ssession_src", dir) { p =>
      val base = events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
          round(col("value") * 100).cast("long").as("value_cents"))
      val sentinelTs = base.agg((max(unix_millis(col("ts"))) + 7200000L).as("m"))
        .collect()(0).getAs[Long]("m")
      val sentinels = base.select(col("user_id")).distinct()
        .select(lit(-1L).as("event_id"),
          timestamp_millis(lit(sentinelTs)).as("ts"),
          col("user_id"), lit(0L).as("value_cents"))
      base.unionByName(sentinels)
        .write.mode("overwrite").parquet(p)
      p
    }
    val stream = s.readStream
      .schema("event_id bigint, ts timestamp, user_id bigint, value_cents bigint")
      .parquet(src)
      .withWatermark("ts", "0 seconds")
    val agg = stream
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value_cents")).as("cents"),
        min(col("event_id")).as("first_event"),
        max(col("event_id")).as("last_event"))
    withStatePartitions(s, 8) {
      withRocksDbState(s) {
        drainToParquet(s, agg, "ssession_out", dir, "graft-ssession-ckpt")
      }
    }
      .filter(col("first_event") >= 0) // belt: sentinel sessions are withheld anyway
      .select(col("user_id"),
        unix_millis(col("session_window.start")).as("session_start_ms"),
        unix_millis(col("session_window.end")).as("session_end_ms"),
        col("n_events"), col("cents"), col("first_event"), col("last_event"))
  }

  /** Stateful streaming dedup through `flatMapGroupsWithState`: first
    * event per user, emitted exactly once from streaming state. Single
    * AvailableNow batch makes the "first" deterministic (lowest event_id
    * per user), so the oracle is `row_number() = 1` — the state-store
    * machinery itself is what gets hash-checked.
    */
  /** The stateful first-seen dedup plan over a staged source path —
    * extracted so KillRecoverySpec can run the IDENTICAL operator under a
    * mid-batch crash + checkpoint-resume harness (the spec passes
    * `maxFilesPerTrigger` to force a multi-batch replay; the catalog row
    * drains its source in one batch).
    */
  private[graft] def streamDedupPlan(s: SparkSession, src: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import s.implicits._
    val rd = s.readStream
      .schema("event_id bigint, user_id bigint, value_cents bigint")
    val stream = maxFilesPerTrigger
      .fold(rd)(n => rd.option("maxFilesPerTrigger", n.toString))
      .parquet(src)
      .select(col("user_id").cast("string").as("key"),
        col("event_id").as("ord"), col("value_cents").cast("string").as("payload"))
      .as[graft.stream.StatefulDedup.Ordered]
    // NoTimeout: a bounded replay needs no retention window, and a
    // processing-time timeout would keep Trigger.AvailableNow alive
    // waiting for timer state to expire
    graft.stream.StatefulDedup.firstSeenOnlyOrdered(s, stream, idleTimeoutMs = 0)
      .toDF()
  }

  def streamDedup(s: SparkSession, dir: String): DataFrame = {
    val src = Tmp.stagedOnce("sdedup_src", dir) { p =>
      events(s, dir)
        .select(col("event_id"), col("user_id"),
          round(col("value") * 100).cast("long").as("value_cents"))
        .write.mode("overwrite").parquet(p)
      p
    }
    withStatePartitions(s, 8) {
      withRocksDbState(s) {
        drainToParquet(s, streamDedupPlan(s, src), "sdedup_out", dir,
          "graft-sdedup-ckpt")
      }
    }
      .select(col("key").cast("long").as("user_id"),
        col("ord").as("event_id"),
        col("payload").cast("long").as("value_cents"))
  }

  /** Stream-stream interval join through the real streaming engine:
    * views ⋈ purchases per user within 12 hours, both sides watermarked,
    * symmetric-hash-join state evicted by the watermark. The replay is
    * RANGE-SPLIT by ts into 2 files → 2 micro-batches in event-time
    * order, so cross-batch matches must come from join state while no
    * input is ever late (watermark after batch 1 sits 12 h behind batch
    * 2's minimum): the streaming result equals the static join exactly,
    * which is what the DuckDB oracle checks.
    *
    * Scale shape: state per side is bounded by (watermark delay + join
    * window) of events, partitioned on user_id like any keyed shuffle;
    * eviction math (a row is dropped once it can no longer match any
    * future input) is the engine's, not ours.
    */
  /** The stream-stream join plan over a staged source path — extracted so
    * KillRecoverySpec can run the IDENTICAL plan under a mid-batch crash
    * + checkpoint-resume harness (r13 verdict task 2).
    */
  private[graft] def streamJoinPlan(s: SparkSession, src: String): DataFrame = {
    def side() = s.readStream
      .schema("event_id bigint, ts timestamp, user_id bigint, event_type string")
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
    val views = side().filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "12 hours")
    val purchases = side().filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "12 hours")
    views.join(purchases,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("view_ts") &&
          col("p_ts") <= col("view_ts") + expr("interval 12 hours"))
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        (unix_millis(col("p_ts")) - unix_millis(col("view_ts"))).as("lag_ms"))
  }

  /** Stage the range-split join source for `dir`; shared with the spec. */
  private[graft] def streamJoinSource(s: SparkSession, dir: String): String =
    Tmp.stagedOnce("sjoin_src", dir) { p =>
      events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
        .repartitionByRange(2, col("ts"))
        .write.mode("overwrite").parquet(p)
      p
    }

  /** Launch-time state-partition sizing for the stream-stream join — the
    * decision a production deployment makes ONCE at first job start
    * (streaming state freezes its partitioning into the store). A join
    * opens FOUR stores per state partition (left/right x
    * keyToNumValues/keyWithIndexToValue), so width is a real trade: at
    * fixture scale 4 beat 8 (16 store open/commit cycles per batch
    * already; 3.25 -> 2.97 s measured r13), but the r14 sf10 probe
    * (`git show 9f24135:src/main/scala/graft/tools/StreamProf.scala`)
    * showed the flip side — 10M-row batches through 4 partitions
    * serialize the probe side: 170 s of batch time at width 4 vs 52 s
    * at width 32, while width-matched scaling is SUB-linear per decade
    * (9.4 s -> 52 s for 10x). So size from the staged source like
    * a launcher would from expected throughput: ~1 state partition per
    * MiB of source, clamped to [4, 32] (local fixture scale .. local[32]
    * width). Result rows are partitioning-invariant — the sf1 hash gate
    * proves it.
    */
  private def joinStateWidth(s: SparkSession, src: String): Int = {
    val mib = Tables.bytesOf(s, src) >> 20
    math.max(4, math.min(32, mib.toInt))
  }

  def streamJoin(s: SparkSession, dir: String): DataFrame = {
    val src = streamJoinSource(s, dir)
    val joined = streamJoinPlan(s, src)
    // RocksDB since r13: join state is the store that outgrows the heap
    // first at scale; bounded shared memory tames the per-instance init
    // cost that kept this family on the default provider in r12.
    // r20: skip the trailing ZERO-ROW micro-batch. An INNER interval
    // join emits each match in the batch that processes it; the no-data
    // batch AvailableNow otherwise appends exists only to advance the
    // watermark and evict state — it produces no output rows, yet the
    // r20 phase profile measured it at 1.3-1.9 s (a full state sweep
    // across all four stores per partition). Output rows are identical
    // with it off for an inner join (oracle + stream≡batch spec gate
    // this); an OUTER stream-stream join would need it (null-extended
    // rows emit at eviction) and must not copy this setting.
    SessionConf.scoped(s, "spark.sql.streaming.noDataMicroBatches.enabled" -> "false") {
      withStatePartitions(s, joinStateWidth(s, src)) {
        withRocksDbState(s) {
          drainToParquet(s, joined, "sjoin_out", dir, "graft-sjoin-ckpt")
        }
      }
    }
  }

  /** Incremental aggregate maintenance with RETRACTIONS: the changelog →
    * materialized-view bridge. Each CDC op becomes a signed delta against
    * a per-user aggregate — insert contributes (+1 row, +cents), update
    * contributes the value DIFF (before-image convention as in
    * [[binlogBinary]]: before = cents - 1, so an update nets +1), delete
    * retracts (-1 row, -cents) — and the streaming engine folds the
    * deltas into the maintained view across micro-batches. Complete-mode
    * memory sink makes the final state oracle-checkable; the
    * production form is update mode into a keyed sink (JDBC MERGE /
    * COW partitions), same aggregate, bounded emission.
    *
    * Scale shape: deltas are (user_id, ±long) pairs — map-side combined
    * like any sum; state is one row per live group, independent of
    * changelog length. This is why an MV over a 100 TB changelog is
    * cheap: the stream is integrals' DERIVATIVE, and the engine only
    * keeps the integral.
    */
  def streamRetract(s: SparkSession, dir: String): DataFrame = {
    val src = Tmp.stagedOnce("sretract_src", dir) { p =>
      events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
        .repartition(2)
        .write.mode("overwrite").parquet(p)
      p
    }
    val deltas = s.readStream
      .schema("event_id bigint, user_id bigint, event_type string, cents bigint")
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
      .filter(col("event_type").isin("signup", "click", "error"))
      .select(col("user_id"),
        when(col("event_type") === "signup", 1L)
          .when(col("event_type") === "click", 0L)
          .otherwise(-1L).as("d_rows"),
        when(col("event_type") === "signup", col("cents"))
          .when(col("event_type") === "click", lit(1L)) // update: cents - before
          .otherwise(-col("cents")).as("d_cents"))
    val mv = deltas.groupBy(col("user_id"))
      .agg(sum(col("d_rows")).as("n_live"), sum(col("d_cents")).as("net_cents"))
    withStatePartitions(s, 8) {
      Tmp.replay("graft-sretract-ckpt") { ckpt =>
        mv.writeStream.format("memory").queryName("graft_stream_retract")
          .outputMode("complete")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
    }
    s.table("graft_stream_retract")
  }

  /** Stream-STATIC broadcast enrichment: a streaming fact joined to a
    * bounded dimension — the lookup-table pattern (user profile, schema
    * registry, routing config) every CDC consumer runs. The dim is a
    * batch DataFrame broadcast into each micro-batch's plan; no state
    * store, no watermark — stream-static inner joins are stateless by
    * construction (each batch joins against the dim as-of that batch).
    * Replay is 2 files → 2 micro-batches, so the broadcast re-resolution
    * across batches is what's exercised; the oracle is the static join.
    *
    * Scale shape: dim ships once per executor per batch (Spark re-uses
    * the broadcast across a batch's tasks); a dim too big to broadcast
    * flips to a shuffle join without changing semantics. State cost:
    * zero.
    */
  def streamEnrich(s: SparkSession, dir: String): DataFrame = {
    val src = Tmp.stagedOnce("senrich_src", dir) { p =>
      events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
        .repartition(2)
        .write.mode("overwrite").parquet(p)
      p
    }
    val dim = events(s, dir).groupBy(col("user_id"))
      .agg(min(col("ts")).cast("date").cast("string").as("first_seen"),
        countDistinct(col("event_type")).as("n_types"))
    val stream = s.readStream
      .schema("event_id bigint, ts timestamp, user_id bigint, event_type string, cents bigint")
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
      .filter(col("event_type") === "purchase")
      .join(broadcast(dim), "user_id")
      .select(col("user_id"), col("event_id"), col("cents"),
        col("first_seen"), col("n_types"))
    drainToParquet(s, stream, "senrich_out", dir, "graft-senrich-ckpt")
  }

  /** State-DB style 3-way join (state/state.go:44-47 analogue) with small
    * dims broadcast.
    */
  def stateJoin(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"),
        sum(round(col("c_acctbal") * 100).cast("long")).as("bal_cents"))
  }

  /** Streaming near-dup gating: MinHash signatures (native expression)
    * computed per arriving document, banded into 2 LSH keys, and checked
    * against band-bucket state that tracks the earliest doc id per
    * bucket ([[graft.stream.StreamingLsh]]) — a document is a near-dup
    * candidate when ANY of its bands was already occupied by an earlier
    * document. The ingest-time gate a curation pipeline runs BEFORE
    * admitting a document to the corpus; the batch signature store
    * (q_incr_index) is the at-rest form of the same index.
    *
    * The replay is range-split by doc_id into 2 files → 2 micro-batches
    * in id order, so cross-batch hits must come from the state store.
    * State per bucket is one long; the per-doc verdict aggregates the
    * per-band hits after the stateful stage.
    */
  def streamNeardup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = Tmp.stagedOnce("sneardup_src", dir) { p =>
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      // The file source orders batches by file MODIFICATION TIME, so a
      // single repartitionByRange write can replay the halves in either
      // order (StreamOpsSpec caught the reversed case dropping every
      // cross-range hit). Two sequential writes pin mtime order to id
      // order: low half strictly before high half.
      val mid = d.agg(max(col("doc_id"))).collect()(0).getLong(0) / 2
      d.filter(col("doc_id") <= mid).coalesce(1)
        .write.mode("overwrite").parquet(p)
      val lowFiles = new java.io.File(p).listFiles().map(_.getName).toSet
      d.filter(col("doc_id") > mid).coalesce(1)
        .write.mode("append").parquet(p)
      // sequential writes usually order mtimes already, but a same-ms tie
      // on a fast filesystem would let the source replay the halves
      // reversed — pin the order explicitly
      val t0 = System.currentTimeMillis()
      new java.io.File(p).listFiles().foreach { f =>
        f.setLastModified(if (lowFiles(f.getName)) t0 - 60000 else t0)
      }
      p
    }
    val sigs = s.readStream.schema("doc_id bigint, text string")
      .option("maxFilesPerTrigger", "1").parquet(src)
      .select(col("doc_id"),
        graft.functions.MinHashSignature.signature(col("text"), 8, 8).as("sig"))
    // widen to the m0..m7 store shape and reuse the ONE authoritative
    // band-key derivation (Dedup.bandKeysFromWide) — the streaming gate
    // must bucket identically to the batch signature store / oracle
    val wide = sigs.select(col("doc_id") +:
      (0 until 8).map(i => element_at(col("sig"), i + 1).as(s"m$i")): _*)
    val bands = graft.analytics.Dedup
      .bandKeysFromWide(wide, "doc_id", numHashes = 8, rowsPerBand = 4)
      .select(col("band"), col("band_key").as("bandKey"), col("doc_id").as("docId"))
      .as[graft.stream.StreamingLsh.BandRow]
    withStatePartitions(s, 8) {
      withRocksDbState(s) {
        drainToParquet(s, graft.stream.StreamingLsh.firstInBucket(s, bands).toDF(),
          "sneardup_out", dir, "graft-sneardup-ckpt")
      }
    }
      .groupBy(col("docId"))
      .agg(sum(when(col("hit"), 1L).otherwise(0L)).as("n_hit_bands"))
      .select(col("docId").as("doc_id"), col("n_hit_bands"),
        (col("n_hit_bands") > 0).as("is_dup"))
  }

  /** Snapshot diff — the INVERSE of the engine's core operation: given
    * two versions of a keyed table, recover the changelog (insert /
    * update with before-image / delete) that a CDC stream would have
    * produced between them. The lake-side form of change-data-feed: when
    * a source cannot stream (bulk-loaded vendor dumps, periodic full
    * exports), diffing consecutive snapshots IS the changelog.
    *
    * Two versions are derived from the events fixture by different
    * exclusion predicates, so all three op kinds occur. Plan shape: two
    * keyed rollups then a full outer join on the SAME key — the join
    * reuses the aggregation's partitioning, so the diff costs the two
    * rollup shuffles and nothing more; unchanged rows are dropped
    * before the sink.
    */
  def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    // the versions diverge on BOTH membership (userExcl: rows for some
    // users exist only in one snapshot → inserts and deletes) and
    // content (eventExcl: shared users aggregate different event sets →
    // updates), so every op kind occurs
    def version(eventExcl: Int, userExcl: Int) = events(s, dir)
      .filter(col("event_id") % eventExcl =!= 0 && col("user_id") % userExcl =!= 0)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("cents"))
    val v0 = version(3, 7).select(col("user_id"),
      col("n").as("n_before"), col("cents").as("cents_before"))
    val v1 = version(5, 11).select(col("user_id").as("uid1"),
      col("n").as("n_after"), col("cents").as("cents_after"))
    v0.join(v1, col("user_id") === col("uid1"), "full_outer")
      .select(
        coalesce(col("user_id"), col("uid1")).as("user_id"),
        when(col("user_id").isNull, "insert")
          .when(col("uid1").isNull, "delete")
          .otherwise("update").as("op"),
        col("n_before"), col("cents_before"), col("n_after"), col("cents_after"))
      .filter(col("op") =!= "update" ||
        col("cents_before") =!= col("cents_after") || col("n_before") =!= col("n_after"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_snapshot_diff" -> snapshotDiff _,
    "q_snapshot_scan" -> snapshotScan _,
    "q_snapshot_rowfilter" -> snapshotRowFilter _,
    "q_projection_pk" -> projectionPk _,
    "q_changelog_expand" -> changelogExpand _,
    "q_event_gate" -> eventGate _,
    "q_route_registered" -> routeRegistered _,
    "q_seqno_assign" -> seqnoAssign _,
    "q_row_key" -> rowKeyQ _,
    "q_partition_key" -> partitionKeyQ _,
    "q_cf_json" -> cfJson _,
    "q_sql_dml" -> sqlDml _,
    "q_sql_dml_idempotent" -> sqlDmlIdempotent _,
    "q_type_norm" -> typeNorm _,
    "q_fanout" -> fanout _,
    "q_handoff_merge" -> handoffMerge _,
    "q_changelog_native" -> changelogNative _,
    "q_binlog_binary" -> binlogBinary _,
    "q_changelog_socket" -> changelogSocket _,
    "q_ddl_socket" -> ddlSocket _,
    "q_kafka_roundtrip" -> kafkaRoundtrip _,
    "q_kafka_socket" -> kafkaSocket _,
    "q_rate_limited" -> rateLimited _,
    "q_group_rebalance" -> groupRebalance _,
    "q_group_stream" -> groupStream _,
    "q_stream_window" -> streamWindow _,
    "q_stream_dedup" -> streamDedup _,
    "q_stream_session" -> streamSession _,
    "q_stream_join" -> streamJoin _,
    "q_stream_enrich" -> streamEnrich _,
    "q_stream_retract" -> streamRetract _,
    "q_stream_neardup" -> streamNeardup _,
    "q_state_join" -> stateJoin _)
}
