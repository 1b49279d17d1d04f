package graft.metrics

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Metrics layer (reference `metrics/metrics.go:1-260`): named counters and
  * timers per pipeline stage, fed from Spark's own instrumentation instead
  * of hand-placed increments — a `SparkListener` turns task I/O metrics
  * into snapshot/batch counters and a `StreamingQueryListener` turns
  * micro-batch progress into streamer counters. Counter NAMES mirror
  * `getEventsMetrics` (metrics.go:143-155): `<process>_events_read`,
  * `<process>_events_written`, `<process>_bytes_read`,
  * `<process>_bytes_written`, `<process>_batch_size`,
  * `<process>_read_latency`, `<process>_produce_latency`.
  *
  * The registry is driver-local (listeners run on the driver); a
  * production deployment forwards `snapshot()` to its metrics sink the
  * same way the reference's tally reporter does.
  */
object Metrics {

  final class Counter private[Metrics] (val name: String) {
    private val v = new AtomicLong()
    def update(delta: Long): Unit = v.addAndGet(delta)
    def value: Long = v.get()
    private[Metrics] def reset(): Unit = v.set(0L)
  }

  /** Timer as (count, totalMs, maxMs) — enough for latency accounting
    * without a histogram dependency.
    */
  final class Timer private[Metrics] (val name: String) {
    private val n = new AtomicLong()
    private val total = new AtomicLong()
    private val max = new AtomicLong()
    def record(ms: Long): Unit = {
      n.incrementAndGet(); total.addAndGet(ms)
      var cur = max.get()
      while (ms > cur && !max.compareAndSet(cur, ms)) cur = max.get()
    }
    def count: Long = n.get()
    def totalMs: Long = total.get()
    def maxMs: Long = max.get()
    private[Metrics] def reset(): Unit = { n.set(0); total.set(0); max.set(0) }
  }

  private val counters = new ConcurrentHashMap[String, Counter]()
  private val timers = new ConcurrentHashMap[String, Timer]()

  def counter(name: String): Counter =
    counters.computeIfAbsent(name, new Counter(_))
  def timer(name: String): Timer =
    timers.computeIfAbsent(name, new Timer(_))

  /** Tagged sub-scope: reference scopes are `SubScope`/`Tagged`
    * (metrics.go:35-40); here a scope is a name prefix.
    */
  final case class Scope(prefix: String) {
    private def full(name: String) = if (prefix.isEmpty) name else s"$prefix.$name"
    def counter(name: String): Counter = Metrics.counter(full(name))
    def timer(name: String): Timer = Metrics.timer(full(name))
    def subScope(name: String): Scope = Scope(full(name))
  }

  def scope(prefix: String = ""): Scope = Scope(prefix)

  /** Events metrics bundle per process, names per getEventsMetrics. */
  final case class Events(process: String, scope: Scope = Scope("")) {
    val eventsRead: Counter = scope.counter(s"${process}_events_read")
    val eventsWritten: Counter = scope.counter(s"${process}_events_written")
    val bytesRead: Counter = scope.counter(s"${process}_bytes_read")
    val bytesWritten: Counter = scope.counter(s"${process}_bytes_written")
    val batchSize: Timer = scope.timer(s"${process}_batch_size")
    val readLatency: Timer = scope.timer(s"${process}_read_latency")
    val produceLatency: Timer = scope.timer(s"${process}_produce_latency")
  }

  def snapshot(): Map[String, Long] =
    counters.asScala.map { case (k, c) => k -> c.value }.toMap ++
      timers.asScala.flatMap { case (k, t) =>
        Seq(s"$k.count" -> t.count, s"$k.total_ms" -> t.totalMs, s"$k.max_ms" -> t.maxMs)
      }

  def reset(): Unit = {
    counters.values().asScala.foreach(_.reset())
    timers.values().asScala.foreach(_.reset())
  }
}

/** Batch-stage metrics from Spark task instrumentation: every task's input
  * records/bytes land in `snapshot_events_read`/`snapshot_bytes_read`, and
  * output in `snapshot_events_written`/`snapshot_bytes_written` — the
  * Snapshot counter family (metrics.go:82-90) without hand instrumentation.
  */
final class SnapshotMetricsListener extends SparkListener {
  private val ev = Metrics.Events("snapshot")
  override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit = {
    val m = taskEnd.taskMetrics
    if (m != null) {
      ev.eventsRead.update(m.inputMetrics.recordsRead)
      ev.bytesRead.update(m.inputMetrics.bytesRead)
      ev.eventsWritten.update(m.outputMetrics.recordsWritten)
      ev.bytesWritten.update(m.outputMetrics.bytesWritten)
      ev.readLatency.record(m.executorRunTime)
    }
  }
}

/** Streaming-stage metrics from micro-batch progress: rows per batch into
  * `streamer_events_read`/`streamer_events_written` (the sink's
  * `numOutputRows`: a DataSource-V2 sink such as the changelog phase's
  * reports it, a `foreachBatch` sink reports -1 and adds nothing; the
  * V2 write tasks set no output metrics, so those rows are not in the
  * snapshot family), batch row count into
  * the `streamer_batch_size` timer and batch wall time into
  * `streamer_produce_latency` — the Streamer family (metrics.go:92-97).
  */
final class StreamerMetricsListener extends StreamingQueryListener {
  private val ev = Metrics.Events("streamer")
  private val batches = Metrics.counter("streamer_batches")
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    Metrics.counter("num_streamer_workers").update(1)
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0 || p.batchId == 0) {
      batches.update(1)
      ev.eventsRead.update(p.numInputRows)
      val written = p.sink.numOutputRows
      if (written > 0) ev.eventsWritten.update(written)
      ev.batchSize.record(p.numInputRows)
      Option(p.durationMs.get("triggerExecution")).foreach(d => ev.produceLatency.record(d))
    }
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    Metrics.counter("num_streamer_workers").update(-1)
}

object MetricsListeners {
  /** Attach both listeners to a session (idempotent per call site). */
  def install(spark: SparkSession): (SnapshotMetricsListener, StreamerMetricsListener) = {
    val batch = new SnapshotMetricsListener
    val stream = new StreamerMetricsListener
    spark.sparkContext.addSparkListener(batch)
    spark.streams.addListener(stream)
    (batch, stream)
  }

  def uninstall(spark: SparkSession,
                listeners: (SnapshotMetricsListener, StreamerMetricsListener)): Unit = {
    spark.sparkContext.removeSparkListener(listeners._1)
    spark.streams.removeListener(listeners._2)
  }
}
