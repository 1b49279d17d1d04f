package graft

import org.apache.spark.sql.functions._

/** Hard-kill crash-recovery for the DSv2 SOURCES over their REAL wires
  * (r14 verdict task 4). KillRecoverySpec proves sink/state recovery;
  * BinlogSourceSpec/KafkaPipeSpec prove graceful checkpointed restarts.
  * These legs kill the stream BETWEEN the offset log and the commit log
  * while the data arrives over a live socket, then resume:
  *
  *  - the binlog source must RECONNECT and re-issue COM_BINLOG_DUMP_GTID
  *    carrying the checkpointed GTID set, re-serving exactly the crashed
  *    batch's interval (the reference's reconnect-and-resume contract,
  *    /root/reference/changelog/mysql.go:1019-1043: on stream error the
  *    syncer redials and resumes from the persisted GTID set);
  *  - the kafka source must re-Fetch the re-delivered batch's
  *    per-partition offset range over a fresh connection
  *    (/root/reference/pipe/kafka.go:482-577 — offsets persist only on
  *    commit, so an uncommitted window is re-consumed).
  *
  * Both legs compare the resumed drain's canonical image against an
  * uninterrupted control run at sf0.1 — byte-identical rows or the gate
  * fails. The crash mechanics (half the batch lands in the sink, then a
  * one-shot throw before the commit log records the batch) are the
  * shared [[CrashSinkHarness]].
  */
class SourceKillRecoverySpec extends SparkSuite with CrashSinkHarness {

  private val sfDir = "/root/testdata/sf0.1"

  test("binlog socket: hard kill mid-replay, resume re-dials COM_BINLOG_DUMP_GTID from the checkpointed set") {
    val path = graft.core.Tmp.staged("binlogsock_kill", sfDir)
    val n = QueriesCdc.buildBinaryLog(spark, sfDir, path)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val srv = new graft.changelog.MysqlRepl.Server(bytes)
    try {
      // 4 micro-batches; the crash lands in batch 1 — a batch whose GTID
      // interval starts mid-log, so the resume's dump command must carry
      // a NON-INITIAL gtid set over the wire
      def plan = spark.readStream.format("graft-binlog")
        .option("path", srv.url)
        .option("maxEventsPerTrigger", math.max(1024L, n / 4 + 1))
        .load()
      val control = image(runWithSink(spark, plan,
        freshDir("bsock-ctl-out"), freshDir("bsock-ctl-ckpt"), None))
      val recovered = image(runWithSink(spark, plan,
        freshDir("bsock-crash-out"), freshDir("bsock-crash-ckpt"), Some(1L)))
      assert(control.nonEmpty, "control run produced no rows")
      assert(recovered == control,
        s"post-crash socket resume diverged (${recovered.size} vs ${control.size} rows)")
    } finally srv.close()
  }

  test("kafka socket: hard kill mid-fetch, resume re-fetches the uncommitted window over the wire") {
    val nParts = 8
    val kp = pmod(col("user_id"), lit(nParts))
    val base = graft.core.Tables.events(spark, sfDir)
      .filter(col("event_type").isin("purchase", "view"))
      .select(
        col("event_id").as("ord"),
        col("user_id").cast("string").as("key"),
        col("user_id"),
        to_json(struct(col("event_id"),
          round(col("value") * 100).cast("long").as("value_cents"))).as("value"))
    val total = base.count()
    val broker = new graft.pipes.KafkaWire.Broker(nParts)
    try {
      val topic = "graft_kill_events"
      QueriesCdc.produceWireEvents(base, kp, broker.url, topic, nParts)
      def plan = spark.readStream.format("graft-kafka")
        .option("path", s"${broker.url}/$topic")
        .option("maxOffsetsPerTrigger", math.max(4096L, total / 4 + 512))
        .load()
        .select(col("partition").cast("long"), col("offset"),
          col("key"), col("value"))
      val control = image(runWithSink(spark, plan,
        freshDir("ksock-ctl-out"), freshDir("ksock-ctl-ckpt"), None))
      val recovered = image(runWithSink(spark, plan,
        freshDir("ksock-crash-out"), freshDir("ksock-crash-ckpt"), Some(1L)))
      assert(control.nonEmpty, "control run produced no rows")
      assert(recovered == control,
        s"post-crash kafka resume diverged (${recovered.size} vs ${control.size} rows)")
    } finally broker.close()
  }
}
