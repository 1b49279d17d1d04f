package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.changelog.Changelog
import graft.encode.{CfDecode, CommonFormatJson}
import graft.pipes.{FileSink, KafkaWire}
import graft.sources.PartitionOffsets
import graft.stream.StatefulDedup

/** Restart-then-tail probe of the streaming layers (`sources`, `stream`,
  * `state`, and `encode`/`pipes` per epoch), run in the onboard workload's
  * traced run: a streamer restarting after downtime. One restart cycle
  * runs on a fresh `KafkaWire.Broker` whose buffer topic
  * (8 partitions, keyed by primary-key hash, so Zipf keys skew them) is
  * pre-loaded with a seeded backlog. The query starts, and from that
  * moment one generator thread appends on a fixed schedule (open loop),
  * stamping each event with the time it was due; a fixed share of
  * appended events are redeliveries of earlier ones, as an at-least-once
  * producer emits.
  *
  * Pipeline: `graft-kafka` over `kafka://` → `StatefulDedup.firstSeenOnly`
  * keyed by GTID (RocksDB state as the catalog configures it, no idle
  * timeout: state is kept for every GTID, so the timeout scan over all
  * keys that a retention window adds to each batch is not measured) →
  * `foreachBatch` making the calls `Streamer.changelogPhase` makes
  * (`Changelog.expandUpdates`, `Changelog.epochSeqno`,
  * `CommonFormatJson.encodeRows`) → one `FileSink` per epoch. The trigger
  * is processing-time 0, so per-batch cost sets latency, not a timer.
  *
  * Catch-up rate = backlog events / (query start → the epoch holding the
  * last backlog offset written). Tail latency per unique event created
  * after catch-up = its epoch's `FileSink.write` return − its due time,
  * computed after the run from the generator's offset → stamp record and
  * each batch's offset range in `StreamingQueryProgress`.
  */
object RestartTail {

  def params: Map[String, Any] = Map(
    "loop" -> s"open, fixed rate $TailRate events/s, one generator thread on one connection",
    "backlog_events" -> Backlog, "partitions" -> Partitions, "table_keys" -> TableRows,
    "key_skew" -> s"zipf s=$ZipfS over the table keys (updates and deletes)",
    "op_mix" -> Map("insert" -> Mix._1, "update" -> Mix._2, "delete" -> Mix._3),
    "redelivery_share" -> DupShare, "max_offsets_per_trigger" -> MaxOffsetsPerTrigger,
    "window_seconds" -> WindowSeconds, "tail_p99_limit_ms" -> TailP99LimitMs,
    "backlog_growth_limit" -> BacklogGrowthLimit,
    "state" -> s"RocksDB, ${StateMemoryMb} MB bounded memory, one row per unique GTID")

  /** A warm-up cycle (a quarter of the backlog, minimal tail), then one
    * measured cycle: catch-up, and tail until [[WindowSeconds]] after the
    * query started. Returns the per-layer figures and the number of unique
    * events that failed a check: not delivered exactly once, a redelivery
    * the dedup operator let through (or a unique event it dropped), or
    * every event of the cycle when the consumer fell behind the generator.
    */
  def probe(ctx: Ctx): (Map[String, Double], Long) = {
    cycle(ctx, 0, check = false, 0.0)
    val s = ctx.tracer.span("restart_tail") { cycle(ctx, 1, check = true, WindowSeconds) }
    (s.layers ++ fetchProbe(ctx) ++ Map(
      "stream.catchup_events_per_s" -> s.rate,
      "stream.tail_p50_ms" -> Workload.median(s.latencyMs.toSeq)), s.failed)
  }

  private def cycle(ctx: Ctx, i: Int, check: Boolean, windowS: Double): Sample = {
    val spark = ctx.spark
    RocksDbState.foreach { case (k, v) => spark.conf.set(k, v) }
    val dir = Files.createDirectories(ctx.work.resolve(s"restart-$i"))
    val broker = new KafkaWire.Broker(Partitions)
    val gen = new Producer(broker.url + "/" + Topic, new java.util.Random(ctx.seed * 7919L + i))
    try {
      val preloaded = if (windowS > 0) Backlog else Backlog / 4
      gen.preload(preloaded)
      val backlogEnds = gen.ends
      val done = new ConcurrentHashMap[Long, java.lang.Long]()
      val opSpan = ctx.tracer.current
      val t0 = System.nanoTime()
      val q = start(spark, broker.url, dir, done, ctx.tracer, opSpan)
      gen.startTail(TailRate)
      val caughtUp = awaitOffsets(q, backlogEnds, CatchUpTimeoutS)
      val tailStart = System.nanoTime()
      val tailEnd = math.max(t0 + (windowS * 1e9).toLong, tailStart + (MinTailSeconds * 1e9).toLong)
      // unconsumed events, sampled: they rise while a batch runs and fall
      // when it commits, so the fewest over a second is the backlog the
      // consumer could not clear; it must not grow from the tail's first
      // second to its last
      val backlog = ArrayBuffer.empty[(Long, Long)]
      while (System.nanoTime() < tailEnd) {
        Thread.sleep(20)
        backlog += (System.nanoTime() -> (gen.produced - consumed(q)))
      }
      gen.stop()
      def fewest(from: Long, to: Long) =
        backlog.collect { case (t, n) if t >= from && t <= to => n }.minOption.getOrElse(0L)
      val backlogStart = fewest(tailStart, tailStart + 1000000000L)
      val backlogEnd = fewest(tailEnd - 1000000000L, tailEnd)
      val drained = awaitOffsets(q, gen.ends, DrainTimeoutS)
      q.stop()
      val progress = q.recentProgress.toVector
      val unique = gen.uniqueCount
      val failed = (if (check) ctx.tracer.span("check") { compare(spark, dir.resolve("out"), gen) } else 0L) +
        (if (caughtUp && drained) 0 else unique)

      // batch b holds the offsets (start, end]; its output was written at done(b)
      val ranges = progress.filter(_.numInputRows > 0).map(p => (p, offsets(p, start = true), offsets(p, start = false)))
      val catchUpBatch = ranges.find { case (_, _, e) =>
        backlogEnds.forall { case (part, end) => e.getOrElse(part, 0L) >= end } }.map(_._1.batchId)
      val catchUpDoneNs = catchUpBatch.flatMap(b => Option(done.get(b))).map(_.longValue).getOrElse(Long.MaxValue)
      val catchUpS = (catchUpDoneNs - t0) / 1e9
      val lat = ArrayBuffer.empty[Double]
      ranges.foreach { case (p, s, e) =>
        Option(done.get(p.batchId)).foreach { d =>
          e.foreach { case (part, end) =>
            var o = s.getOrElse(part, 0L)
            while (o < end) {
              val due = gen.dueNs(part, o)
              if (due >= catchUpDoneNs && !gen.isRedelivery(part, o)) lat += (d.longValue - due) / 1e6
              o += 1
            }
          }
        }
      }
      // the dedup operator writes state once per GTID it lets through (no
      // idle timeout, so nothing is ever removed or re-armed): what it
      // dropped is what was read minus its state writes, and that must be
      // every redelivery and nothing else
      val passed = progress.flatMap(_.stateOperators.headOption).map(_.numRowsUpdated).sum
      val dropped = progress.map(_.numInputRows).sum - passed
      val dropFailed = if (check) math.abs(dropped - gen.redeliveries) else 0L
      // the open loop holds only if the consumer kept up with the generator
      val lagFailed = if (check && backlogEnd - backlogStart > BacklogGrowthLimit) unique else 0L
      val layers = streamLayers(progress, catchUpBatch.getOrElse(-1L)) ++ Map(
        "stream.tail_p99_ms" -> Workload.quantile(lat.toSeq, 0.99),
        "state.dup_drop_ratio" -> dropped.toDouble / math.max(1L, gen.redeliveries),
        "gen.late_p99_ms" -> gen.lateP99Ms,
        "gen.backlog_start" -> backlogStart.toDouble,
        "gen.backlog_end" -> backlogEnd.toDouble) ++
        (if (ctx.tracer.enabled) Map(
          "encode.epoch_ms" -> Workload.median(ctx.tracer.durationsMs(EncodeSpan).takeRight(ranges.size)),
          "pipes.epoch_write_ms" -> Workload.median(ctx.tracer.durationsMs(WriteSpan).takeRight(ranges.size)))
        else Map.empty)
      ctx.tracer.count("restart_tail.unique_events", unique)
      Sample(unique, math.min(unique, failed + dropFailed + lagFailed), preloaded / catchUpS, (System.nanoTime() - t0) / 1e6,
        latencyMs = lat.toArray, layers = layers)
    } finally {
      gen.stop()
      spark.streams.active.foreach(_.stop())
      broker.close()
      Workload.release(spark)
      graft.core.Tmp.deleteRecursively(dir)
    }
  }

  private def start(spark: SparkSession, url: String, dir: Path,
                    done: ConcurrentHashMap[Long, java.lang.Long], tracer: Tracer, opSpan: Int): StreamingQuery = {
    import spark.implicits._
    val keyed = spark.readStream.format("graft-kafka")
      .option("path", s"$url/$Topic")
      .option("maxOffsetsPerTrigger", MaxOffsetsPerTrigger.toString)
      .load()
      .select(get_json_object(col("value"), "$.gtid").as("key"), col("value").as("payload"))
      .as[StatefulDedup.Keyed]
    val out = dir.resolve("out").toString
    StatefulDedup.firstSeenOnly(spark, keyed, idleTimeoutMs = 0).toDF()
      .writeStream
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val enc = tracer.span(EncodeSpan, opSpan) {
          val rows = batch.select(from_json(col("payload"), EventSchema).as("e")).select(
            col("e.op").as("op"), col("e.ev").as("ev"), col("e.tenant_id").cast("int").as("tenant_id"),
            col("e.order_id").as("order_id"), col("e.amount").as("amount"), col("e.status").as("status"),
            expr("timestamp_millis(e.created_at)").as("created_at"), col("e.note").as("note"),
            col("e.qty").cast("int").as("qty"))
          val expanded = Changelog.expandUpdates(rows)
          val w = Window.orderBy(col("ev").asc, col("half").asc)
          val withSeqno = expanded.withColumn("seqno",
            Changelog.epochSeqno(epochId + 1, row_number().over(w).cast("long")))
          withSeqno.select(CommonFormatJson.encodeRows(withSeqno, Onboard.Pk, CfColumns).as("value"))
        }
        tracer.span(WriteSpan, opSpan) { FileSink.write(enc, s"$out/epoch=$epochId", "json") }
        done.put(epochId, System.nanoTime())
        ()
      }
      .start()
  }

  private def offsets(p: StreamingQueryProgress, start: Boolean): Map[Int, Long] = {
    val json = if (start) p.sources.head.startOffset else p.sources.head.endOffset
    if (json == null) Map.empty else PartitionOffsets.fromJson(json).offsets
  }

  private def consumed(q: StreamingQuery): Long =
    Option(q.lastProgress).map(p => offsets(p, start = false).values.sum).getOrElse(0L)

  /** Wait until the query has committed every offset below `ends`. */
  private def awaitOffsets(q: StreamingQuery, ends: Map[Int, Long], timeoutS: Double): Boolean = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    def reached = Option(q.lastProgress).exists { p =>
      val e = offsets(p, start = false)
      ends.forall { case (part, end) => e.getOrElse(part, 0L) >= end }
    }
    while (!reached && q.isActive && System.nanoTime() < deadline) Thread.sleep(5)
    reached
  }

  /** Micro-batch phase costs and state-operator figures, split into the
    * catch-up batches (up to the one holding the last backlog offset)
    * and the tail batches after it.
    */
  private def streamLayers(progress: Seq[StreamingQueryProgress], catchUpBatch: Long): Map[String, Double] = {
    val withRows = progress.filter(_.numInputRows > 0)
    def phase(name: String, ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
      def d(k: String) = Workload.median(ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
      val trig = ps.map(p => Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0))
      Map(s"stream.$name.batches" -> ps.size.toDouble,
        s"stream.$name.rows_per_batch" -> Workload.median(ps.map(_.numInputRows.toDouble)),
        s"stream.$name.latest_offset_ms" -> d("latestOffset"),
        s"stream.$name.query_planning_ms" -> d("queryPlanning"),
        s"stream.$name.add_batch_ms" -> d("addBatch"),
        s"stream.$name.wal_commit_ms" -> d("walCommit"),
        s"stream.$name.commit_offsets_ms" -> d("commitOffsets"),
        s"stream.$name.trigger_ms_p50" -> Workload.median(trig),
        s"stream.$name.trigger_ms_p99" -> Workload.quantile(trig, 0.99))
    }
    val (catchUp, tail) = withRows.partition(_.batchId <= catchUpBatch)
    val ops = withRows.flatMap(_.stateOperators.headOption)
    val last = ops.lastOption
    phase("catchup", catchUp) ++ phase("tail", tail) ++ Map(
      "state.commit_ms" -> Workload.median(tail.flatMap(_.stateOperators.headOption).map(_.commitTimeMs.toDouble)),
      "state.rows_total" -> ops.map(_.numRowsUpdated).sum.toDouble,
      "state.memory_bytes" -> last.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      "state.memory_share" -> last.map(_.memoryUsedBytes.toDouble / (StateMemoryMb * 1048576.0)).getOrElse(0.0))
  }

  /** Every unique event appears exactly once across the epochs: each
    * insert/update's `ev` once among the CF inserts, and per key as many
    * CF deletes as the key had updates and deletes. Returns the number of
    * unique events not delivered exactly once.
    */
  private def compare(spark: SparkSession, out: Path, gen: Producer): Long = {
    val written = spark.read.schema("value STRING").json(out.toString).select("value")
    val rows = written.select(CfDecode.decodeRows(col("value"), CfSchema): _*)
      .select(col("op"), col("key").getItem(0).as("t"), col("key").getItem(1).as("o"), col("ev"))
      .collect()
    val insertsByEv = scala.collection.mutable.HashMap.empty[Long, Int].withDefaultValue(0)
    val deletesByKey = scala.collection.mutable.HashMap.empty[String, Int].withDefaultValue(0)
    rows.foreach { r =>
      if (r.getString(0) == "delete") deletesByKey(s"${r.getString(1)}:${r.getString(2)}") += 1
      else insertsByEv(r.getLong(3)) += 1
    }
    var failed = 0L
    gen.uniqueEvents.foreach { e =>
      if (e.op != "delete" && insertsByEv.remove(e.ev).getOrElse(0) != 1) failed += 1
    }
    failed += insertsByEv.size // inserts for events never generated
    val wantDeletes = gen.uniqueEvents.filter(_.op != "insert").groupBy(_.key).map { case (k, es) => k -> es.size }
    (wantDeletes.keySet ++ deletesByKey.keySet).foreach { k =>
      failed += math.abs(wantDeletes.getOrElse(k, 0) - deletesByKey(k))
    }
    failed
  }

  /** One `KafkaWire.fetch` of the fullest partition at backlog size. */
  private def fetchProbe(ctx: Ctx): Map[String, Double] = {
    val broker = new KafkaWire.Broker(Partitions)
    try {
      val gen = new Producer(broker.url + "/" + Topic, new java.util.Random(ctx.seed * 7919L - 1))
      gen.preload(Backlog)
      val (part, _) = gen.ends.maxBy(_._2)
      val fetches = (0 until 5).map { _ =>
        Workload.timedS(KafkaWire.fetch(broker.url + "/" + Topic, Topic, part, 0L, 1 << 28)) * 1000
      }
      Map("sources.fetch_ms" -> Workload.median(fetches))
    } finally broker.close()
  }
  val Topic = "orders_cdc"
  val Partitions = 8
  val Backlog = 8000
  val TableRows = 8000
  val ZipfS = 1.1
  val Mix = (0.3, 0.5, 0.2)
  val DupShare = 0.05
  val TailRate = 400
  val MinTailSeconds = 0.5
  val WindowSeconds = 8.0
  val TailP99LimitMs = 2000
  /** How far `gen.backlog_end` may exceed `gen.backlog_start`: one
    * second of appends. More means the tail fell behind the rate.
    */
  val BacklogGrowthLimit: Long = TailRate
  val MaxOffsetsPerTrigger = Backlog / 2
  val StateMemoryMb = 512
  private val CatchUpTimeoutS = 60.0
  private val DrainTimeoutS = 30.0
  private val EncodeSpan = "encode.foreachBatch"
  private val WriteSpan = "pipes.FileSink.write"

  /** The catalog's RocksDB settings for stateful streams. */
  val RocksDbState: Seq[(String, String)] = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage" -> "true",
    "spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB" -> StateMemoryMb.toString,
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" -> "false",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  val CfColumns: Seq[String] = Onboard.Columns :+ "ev"
  val CfSchema: StructType = Onboard.TableSchema.add("ev", LongType)
  private val EventSchema = StructType.fromDDL(
    "gtid STRING, ev BIGINT, op STRING, tenant_id BIGINT, order_id BIGINT, amount DECIMAL(12,2), " +
      "status STRING, created_at BIGINT, note STRING, qty BIGINT")

  final case class Event(ev: Long, op: String, key: String)

  /** Seeded producer: table-consistent row events, GTID per event over two
    * source UUIDs, records routed by primary-key hash. Keeps, per
    * partition and offset, the due time and whether it is a redelivery.
    */
  final class Producer(url: String, rnd: java.util.Random) {
    private val table = new Gen.Table(rnd, TableRows, Onboard.Tenants, ZipfS, Mix)
    private val due = Array.fill(Partitions)(new LongBuf)
    private val dup = Array.fill(Partitions)(new java.util.BitSet)
    private val sentValues = ArrayBuffer.empty[(Int, Array[Byte], Array[Byte])]
    private val late = new LongBuf
    private val gno = Array.fill(Onboard.Uuids.size)(0L)
    val uniqueEvents = ArrayBuffer.empty[Event]
    @volatile private var running = false
    private var thread: Thread = _
    var redeliveries = 0L

    private def nextRecord(): (Int, Array[Byte], Array[Byte], Boolean) =
      if (sentValues.nonEmpty && rnd.nextDouble() < DupShare) {
        redeliveries += 1
        val (p, k, v) = sentValues(sentValues.size - 1 - rnd.nextInt(math.min(sentValues.size, 4096)))
        (p, k, v, true)
      } else {
        val c = table.next()
        val o = c.row
        val u = rnd.nextInt(gno.length)
        gno(u) += 1
        val ev = uniqueEvents.size.toLong
        uniqueEvents += Event(ev, c.op, o.key)
        val value = s"""{"gtid":"${Onboard.Uuids(u)}:${gno(u)}","ev":$ev,"op":"${c.op}",""" +
          s""""tenant_id":${o.tenant},"order_id":${o.order},"amount":${java.math.BigDecimal.valueOf(o.amountCents, 2)},""" +
          s""""status":"${o.status}","created_at":${o.createdMs},"note":${Json.render(o.note)},"qty":${o.qty}}"""
        val p = Math.floorMod(o.key.hashCode, Partitions)
        val rec = (p, o.key.getBytes(UTF_8), value.getBytes(UTF_8))
        sentValues += rec
        (p, rec._2, rec._3, false)
      }

    /** Append `recs` (one produce request per partition), record offsets. */
    private def send(recs: Seq[(Int, Array[Byte], Array[Byte], Boolean)], dueNs: Seq[Long]): Unit =
      recs.zip(dueNs).groupBy(_._1._1).foreach { case (p, rs) =>
        rs.grouped(4096).foreach { chunk =>
          val base = KafkaWire.produce(url, Topic, p, chunk.map { case ((_, k, v, _), d) => (k, v, d / 1000000L) })
          require(base == due(p).size, s"partition $p: broker offset $base, expected ${due(p).size}")
          chunk.foreach { case ((_, _, _, isDup), d) =>
            if (isDup) dup(p).set(due(p).size)
            due(p) += d
          }
        }
      }

    def preload(n: Int): Unit = {
      val now = System.nanoTime()
      send((0 until n).map(_ => nextRecord()), Seq.fill(n)(now))
    }

    def startTail(rate: Double): Unit = {
      running = true
      val t0 = System.nanoTime()
      val periodNs = 1e9 / rate
      thread = new Thread(() => {
        var sent = 0L
        while (running) {
          val now = System.nanoTime()
          val dueCount = ((now - t0) / periodNs).toLong
          if (dueCount > sent) {
            val dues = (sent until dueCount).map(k => t0 + (k * periodNs).toLong)
            send(dues.map(_ => nextRecord()), dues)
            val sentAt = System.nanoTime()
            dues.foreach(d => late += (sentAt - d))
            sent = dueCount
          } else LockSupport.parkNanos(math.min(1000000L, (t0 + ((sent + 1) * periodNs).toLong) - now))
        }
      }, "cdcbench-generator")
      thread.setDaemon(true)
      thread.start()
    }

    def stop(): Unit = { running = false; if (thread != null) thread.join() }

    def ends: Map[Int, Long] = (0 until Partitions).map(p => p -> due(p).size.toLong).toMap
    def produced: Long = due.map(_.size.toLong).sum
    def uniqueCount: Long = uniqueEvents.size.toLong
    def dueNs(p: Int, o: Long): Long = due(p)(o.toInt)
    def isRedelivery(p: Int, o: Long): Boolean = dup(p).get(o.toInt)
    def lateP99Ms: Double = {
      val xs = late.toArray.sorted
      if (xs.isEmpty) 0.0 else xs(math.min(xs.length - 1, (xs.length * 0.99).toInt)) / 1e6
    }
  }

  /** Growable primitive long array; one thread appends, others may read `size`. */
  final class LongBuf {
    private var a = new Array[Long](1024)
    @volatile var size = 0
    def +=(x: Long): Unit = {
      if (size == a.length) a = java.util.Arrays.copyOf(a, size * 2)
      a(size) = x; size += 1
    }
    def apply(i: Int): Long = a(i)
    def toArray: Array[Long] = java.util.Arrays.copyOf(a, size)
  }
}
