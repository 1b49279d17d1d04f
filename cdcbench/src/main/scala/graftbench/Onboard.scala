package graftbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.changelog.{BinlogWire, GtidSet, MysqlRepl}
import graft.encode.{CfDecode, CommonFormatJson}
import graft.pipes.FileSink
import graft.snapshot.Snapshot
import graft.sources.BinlogFixture
import graft.state.StateStore
import graft.stream.{Coordinator, Streamer}

/** `onboard`: closed loop, one client. Each operation onboards one new
  * table end to end with `Coordinator.runTask`: snapshot scan → CF-JSON →
  * `FileSink`, then the binlog backlog read over `mysql://` from a
  * `MysqlRepl.Server` → `Streamer.changelogPhase` → CF-JSON → one
  * `FileSink` per epoch. Every operation gets a freshly generated table
  * and backlog (and a fresh server), as a real onboarding would: reusing
  * one backlog would hit the binlog parse cache from the second operation
  * on.
  */
final class Onboard extends Workload {
  import Onboard._

  def params: Map[String, Any] = Map(
    "loop" -> "closed", "clients" -> 1,
    "snapshot_rows" -> SnapshotRows, "binlog_row_events" -> BinlogEvents,
    "txn_rows" -> s"1-$MaxTxnRows", "source_uuids" -> Uuids.size, "tenants" -> Tenants,
    "key_skew" -> s"zipf s=$ZipfS over the snapshot keys (updates and deletes)",
    "op_mix" -> Map("insert" -> Mix._1, "update" -> Mix._2, "delete" -> Mix._3),
    "epochs_per_backlog" -> EpochsPerBacklog, "traced_run_streaming_probe" -> RestartTail.params)

  /** Table, backlog and expected final state for input `v`. */
  private def generate(ctx: Ctx, v: Int, withSnapshot: Boolean = true): Input = {
    val rnd = new java.util.Random(ctx.seed * 1000003L + v)
    val table = new Gen.Table(rnd, SnapshotRows, Tenants, ZipfS, Mix)
    val dir = Files.createDirectories(ctx.work.resolve(s"onboard-$v"))
    val snapshotPath = dir.resolve("snapshot.parquet").toString
    if (withSnapshot)
      ctx.spark.createDataFrame(java.util.Arrays.asList(table.rows.map(toRow): _*), TableSchema)
        .repartition(ctx.cores).write.mode("overwrite").parquet(snapshotPath)
    var events = 0
    var cfRecords = SnapshotRows.toLong
    val gno = Array.fill(Uuids.size)(0L)
    var tsMs = 1717200000000L
    val txns = Vector.newBuilder[BinlogWire.Entry]
    while (events < BinlogEvents) {
      val n = math.min(BinlogEvents - events, 1 + rnd.nextInt(MaxTxnRows))
      val changes = (0 until n).map(_ => table.next())
      val u = rnd.nextInt(Uuids.size)
      gno(u) += 1
      tsMs += rnd.nextInt(50)
      txns += BinlogWire.Txn(Uuids(u), gno(u), tsMs, BinlogTable, changes.map(toWire))
      events += n
      cfRecords += changes.map(c => if (c.op == "update") 2 else 1).sum
    }
    val binlogPath = dir.resolve("backlog.binlog").toString
    BinlogFixture.writeBinary(binlogPath, txns.result().iterator)
    Input(dir, snapshotPath, Files.readAllBytes(dir.resolve("backlog.binlog")), table.rows,
      events, cfRecords)
  }

  def run(ctx: Ctx, i: Int, check: Boolean): Sample = {
    val spark = ctx.spark
    val in = generate(ctx, i)
    val srv = new MysqlRepl.Server(in.binlog)
    try {
      val state = new StateStore(in.dir.resolve("state").toString)
      val reg = StateStore.Registration("bench", "cl1", "shop", "orders", "mysql", "file", "json")
      state.register(reg)
      val coordinator = new Coordinator(spark, state, in.dir.resolve("out").toString)
      val t0 = System.nanoTime()
      val manifests = ctx.tracer.span("stream.Coordinator.runTask") {
        val snapshot = Snapshot.scan(spark.read.parquet(in.snapshotPath), Seq.empty, Columns, Pk)
        coordinator.runTask(reg, snapshot, binlogStream(spark, srv.url, in.events), Pk,
          Seq("seq"), in.dir.resolve("ckpt").toString)
      }
      val opS = (System.nanoTime() - t0) / 1e9
      val rows = SnapshotRows.toLong + in.events
      val outDir = in.dir.resolve("out").resolve("cl1.shop.orders.v0")
      val failed = if (!check) 0L else ctx.tracer.span("check") {
        compare(spark, outDir, in.expected) + math.abs(manifests.map(_.numRecs).sum - in.cfRecords)
      }
      ctx.tracer.count("onboard.rows", rows)
      Sample(rows, math.min(rows, failed), rows / opS, opS * 1000,
        layers = Map("encode.out_bytes_per_row" -> Workload.dataBytes(outDir).toDouble / rows))
    } finally {
      srv.close()
      Workload.release(spark)
      graft.core.Tmp.deleteRecursively(in.dir)
    }
  }

  /** Decode every CF record written (snapshot and all epochs), resolve
    * latest-seqno-wins per primary key and compare with the generator's
    * final table. Returns the number of keys whose row is missing, extra
    * or different.
    */
  private def compare(spark: SparkSession, outDir: Path, expected: Vector[Gen.Order]): Long = {
    def cf(p: Path) = spark.read.schema("value STRING").json(p.toString).select("value")
    val written = cf(outDir.resolve("snapshot")).unionByName(cf(outDir.resolve("log")))
    val decoded = written.select(CfDecode.decodeRows(col("value"), TableSchema): _*)
      .withColumn("tenant_id", col("key").getItem(0).cast("int"))
      .withColumn("order_id", col("key").getItem(1).cast("long"))
    val actual = Streamer.resolveLatest(decoded, Pk, Seq("seqno")).select(Columns.map(col): _*)
      .collect().map(r => s"${r.getInt(0)}:${r.getLong(1)}" -> r).toMap
    val want = expected.map(o => o.key -> toRow(o)).toMap
    (want.keySet ++ actual.keySet).count(k => want.get(k) != actual.get(k)).toLong
  }

  /** The streamer counter must equal the binlog row events the traced
    * operations consumed.
    */
  override def checkRegistry(registry: Map[String, Long], traced: Seq[Sample]): Long =
    math.abs(registry.getOrElse("streamer_events_read", 0L) - traced.size.toLong * BinlogEvents)

  /** Snapshot, encode, pipe and binlog layers piece by piece, then the
    * restart-then-tail streaming probe ([[RestartTail]]).
    */
  def probes(ctx: Ctx): (Map[String, Double], Long) = {
    val spark = ctx.spark
    val in = generate(ctx, ProbeInput)
    try {
      val rounds = (0 until ProbeRounds).map { r =>
        def scan = Snapshot.scan(spark.read.parquet(in.snapshotPath), Seq.empty, Columns, Pk)
        def encoded = {
          val s = Streamer.snapshotPhase(scan)
          s.select(CommonFormatJson.encodeRows(s, Pk, Columns).as("value"))
        }
        val out = in.dir.resolve(s"probe-$r").toString
        val scanS = Workload.timedS(Workload.noop(scan))
        val encodeS = Workload.timedS(Workload.noop(encoded))
        val writeS = Workload.timedS(FileSink.write(encoded, out, "json"))
        val manifestS = Workload.timedS(FileSink.writeDoneManifest(spark, out, "json"))
        // a never-seen image each round: the socket parse is cached by content
        val log = if (r == 0) in.binlog else generate(ctx, ProbeInput + r, withSnapshot = false).binlog
        val srv = new MysqlRepl.Server(log)
        val (dumpS, readS) = try {
          (Workload.timedS(MysqlRepl.dumpRaw(srv.url, GtidSet.empty)),
            Workload.timedS(BinlogFixture.readSocket(srv.url, GtidSet.empty)))
        } finally srv.close()
        Map("snapshot.scan_s" -> scanS,
          "encode.cf_s" -> math.max(0.0, encodeS - scanS),
          "pipes.file_write_s" -> math.max(0.0, writeS - encodeS - manifestS),
          "pipes.manifest_s" -> manifestS,
          "changelog.dump_s" -> dumpS,
          "changelog.parse_s" -> math.max(0.0, readS - dumpS))
      }
      val cdc = rounds.head.keys.map(k => k -> Workload.median(rounds.map(_(k)))).toMap
      val (streaming, failed) = RestartTail.probe(ctx)
      (cdc ++ streaming, failed)
    } finally {
      Workload.release(spark)
      (1 until ProbeRounds).foreach(r => graft.core.Tmp.deleteRecursively(ctx.work.resolve(s"onboard-${ProbeInput + r}")))
      graft.core.Tmp.deleteRecursively(in.dir)
    }
  }
}

object Onboard {
  private final case class Input(dir: Path, snapshotPath: String, binlog: Array[Byte],
                                 expected: Vector[Gen.Order], events: Int, cfRecords: Long)

  val SnapshotRows = 12000
  val BinlogEvents = 6000
  val MaxTxnRows = 8
  val Tenants = 64
  val ZipfS = 1.1
  val Mix = (0.3, 0.5, 0.2)
  val EpochsPerBacklog = 2
  val Uuids: Vector[String] = Vector(
    "3e11fa47-71ca-11e1-9e33-c80aa9429562", "5a6b0c1d-2e3f-4a5b-8c7d-9e0f1a2b3c4d")
  private val ProbeInput = 100000
  private val ProbeRounds = 3

  val Pk: Seq[String] = Seq("tenant_id", "order_id")
  val TableSchema: StructType = StructType.fromDDL(
    "tenant_id INT, order_id BIGINT, amount DECIMAL(12,2), status STRING, " +
      "created_at TIMESTAMP, note STRING, qty INT")
  val Columns: Seq[String] = TableSchema.fieldNames.toSeq

  def toRow(o: Gen.Order): Row = Row(o.tenant, o.order, java.math.BigDecimal.valueOf(o.amountCents, 2),
    o.status, new java.sql.Timestamp(o.createdMs), o.note, o.qty)

  /** The table as the binlog carries it. The wire format has no TIMESTAMP
    * type, so `created_at` rides as BIGINT epoch milliseconds and the
    * changelog projection converts it back; `note` is TEXT, which MySQL
    * logs as a BLOB.
    */
  val BinlogTable: BinlogWire.TableDef = BinlogWire.TableDef("shop", "orders", Seq(
    BinlogWire.Col("tenant_id", BinlogWire.T.LONG),
    BinlogWire.Col("order_id", BinlogWire.T.LONGLONG),
    BinlogWire.Col("amount", BinlogWire.T.NEWDECIMAL, meta = (12 << 8) | 2),
    BinlogWire.Col("status", BinlogWire.T.VARCHAR, meta = 16),
    BinlogWire.Col("created_at", BinlogWire.T.LONGLONG),
    BinlogWire.Col("note", BinlogWire.T.BLOB, meta = 2),
    BinlogWire.Col("qty", BinlogWire.T.LONG)))

  private def image(o: Gen.Order): IndexedSeq[Any] = IndexedSeq(
    Integer.valueOf(o.tenant), java.lang.Long.valueOf(o.order),
    java.math.BigDecimal.valueOf(o.amountCents, 2), o.status,
    java.lang.Long.valueOf(o.createdMs), o.note.getBytes("UTF-8"), Integer.valueOf(o.qty))

  def toWire(c: Gen.Change): BinlogWire.Row =
    BinlogWire.Row(c.op, c.before.map(image), c.after.map(image))

  private val PayloadSchema = StructType.fromDDL(
    "tenant_id BIGINT, order_id BIGINT, amount DECIMAL(12,2), status STRING, " +
      "created_at BIGINT, note STRING, qty BIGINT")

  /** The binlog as a typed changelog stream: `seq` (log position) orders
    * events, `op` is insert/update/delete, payload columns match the
    * snapshot's. Deletes carry their before-image as the payload.
    */
  def binlogStream(spark: SparkSession, url: String, events: Int): DataFrame =
    spark.readStream.format("graft-binlog")
      .option("path", url)
      .option("maxEventsPerTrigger", events / EpochsPerBacklog + 1)
      .load()
      .filter(col("op") =!= "ddl")
      .select(col("seq"), col("op"), from_json(col("payload"), PayloadSchema).as("r"))
      .select(col("seq"), col("op"),
        col("r.tenant_id").cast("int").as("tenant_id"), col("r.order_id").as("order_id"),
        col("r.amount").as("amount"), col("r.status").as("status"),
        expr("timestamp_millis(r.created_at)").as("created_at"),
        decode(unbase64(col("r.note")), "UTF-8").as("note"),
        col("r.qty").cast("int").as("qty"))
}
