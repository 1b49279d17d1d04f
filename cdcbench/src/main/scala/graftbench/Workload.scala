package graftbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What a workload sees of the run: the session, its own scratch
  * directory inside the checkout, the seed and the tracer.
  */
final case class Ctx(spark: SparkSession, work: Path, seed: Long, cores: Int, tracer: Tracer)

/** Outcome of one timed operation (one closed-loop request, or one
  * restart cycle of the open-loop workload).
  *
  * @param rows      operations attempted (rows, unique events or documents)
  * @param failed    of those, how many the output check found wrong
  * @param rate      rows per second of the timed section
  * @param opMs      wall time of the timed section
  * @param latencyMs per-event latencies (the streaming probe)
  * @param layers    per-layer numbers read off this operation
  */
final case class Sample(rows: Long, failed: Long, rate: Double, opMs: Double,
                        latencyMs: Array[Double] = Array.empty,
                        layers: Map[String, Double] = Map.empty)

trait Workload {
  /** Input shape recorded in the run artifact. */
  def params: Map[String, Any]

  /** Generate the inputs every operation of a session shares. */
  def prepare(ctx: Ctx): Unit = ()

  /** Generate input `i` (untimed), run the timed operation and, when
    * `check` is set, check its output (untimed). Set-up runs operation 0
    * unchecked as its warm-up; every measured operation is checked.
    */
  def run(ctx: Ctx, i: Int, check: Boolean): Sample

  /** Piecewise timings of single layers, run after the traced samples,
    * with the number of operations whose check failed in them.
    */
  def probes(ctx: Ctx): (Map[String, Double], Long)

  /** Operations whose count in the system's own metrics registry
    * (`graft.metrics.Metrics`, filled by `MetricsListeners` during the
    * traced samples) disagrees with the benchmark's own count.
    */
  def checkRegistry(registry: Map[String, Long], traced: Seq[Sample]): Long = 0L
}

object Workload {
  def all: Map[String, () => Workload] = Map(
    "onboard" -> (() => new Onboard),
    "curation_dedup" -> (() => new CurationDedup))

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def timedS(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank quantile (0 for an empty sample). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }

  /** Release everything a previous operation left in the session, as the
    * catalog bench does between queries: cached plans and RDDs, blocks
    * registered for harness cleanup, loaded state-store providers.
    */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    graft.core.CacheRegistry.releaseAll()
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    System.gc()
  }

  /** Total bytes of the data files under `dir` (no markers, no checksums). */
  def dataBytes(dir: Path): Long = {
    if (!java.nio.file.Files.exists(dir)) return 0L
    val walk = java.nio.file.Files.walk(dir)
    try {
      var n = 0L
      walk.forEach { f =>
        val name = f.getFileName.toString
        if (java.nio.file.Files.isRegularFile(f) && name.startsWith("part-")) n += java.nio.file.Files.size(f)
      }
      n
    } finally walk.close()
  }
}
