package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder for the traced run. A span has a name, start,
  * end and parent; every span of one workload run carries the run id.
  * Spans are only recorded at the benchmark's own calls into the system's
  * public entry points, and written out once when the run ends. When
  * disabled every call is a plain pass-through.
  */
final class Tracer(val runId: String, @volatile var enabled: Boolean) {
  import Tracer.Span

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val counts = new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()

  /** Id of the innermost open span on this thread (0 = root). */
  def current: Int = stack.get.headOption.getOrElse(0)

  /** Time `body` as a span; `parent` overrides the thread's open span,
    * for work that runs on another thread (the stream's foreachBatch).
    */
  def span[T](name: String, parent: Int = -1)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val p = if (parent >= 0) parent else current
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, p, name, t0, System.nanoTime()))
        stack.set(stack.get.tail)
      }
    }

  /** Count recorded at a span boundary (rows in, pairs out, ...). */
  def count(name: String, n: Long): Unit =
    if (enabled) counts.computeIfAbsent(name, _ => new LongAdder).add(n)

  def durationsMs(name: String): Vector[Double] =
    spans.asScala.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6).toVector

  def toJson: Vector[Any] = spans.asScala.toVector.sortBy(_.id).map(s => Map(
    "run" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs)) ++
    counts.asScala.toSeq.sortBy(_._1).map { case (k, v) =>
      Map("run" -> runId, "count" -> k, "value" -> v.sum()) }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
}

/** Driver and executor costs from Spark's own events: planning phases per
  * executed query (QueryExecution tracker), job and task counts, executor
  * run / CPU / GC time, shuffle bytes written and bytes spilled.
  */
final class SparkCollector(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val jobs, tasks, runMs, cpuNs, gcMs, shuffleWrite, spill, planMs = new LongAdder

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.increment()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    tasks.increment()
    if (m != null) {
      runMs.add(m.executorRunTime)
      cpuNs.add(m.executorCpuTime)
      gcMs.add(m.jvmGCTime)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planMs.add(qe.tracker.phases.values.map(_.durationMs).sum)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def install(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def uninstall(): Unit = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** `wallS` is the traced segment's wall time; busy share is executor CPU
    * over the CPU time the local executor could have used in it.
    */
  def metrics(wallS: Double, cores: Int): Map[String, Double] = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    Map(
      "spark.plan_ms" -> planMs.sum().toDouble,
      "spark.jobs" -> jobs.sum().toDouble,
      "spark.tasks" -> tasks.sum().toDouble,
      "spark.exec_run_ms" -> runMs.sum().toDouble,
      "spark.exec_cpu_ms" -> cpuNs.sum() / 1e6,
      "spark.busy_share" -> cpuNs.sum() / 1e9 / math.max(1e-9, wallS * cores),
      "spark.gc_ms" -> gcMs.sum().toDouble,
      "spark.shuffle_write_bytes" -> shuffleWrite.sum().toDouble,
      "spark.spill_bytes" -> spill.sum().toDouble)
  }
}

/** Minimal JSON rendering for the result line and the run artifact. */
object Json {
  private def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${str(k.toString)}:${render(x)}" }.mkString("{", ",", "}")
    case it: Iterable[_] => it.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
