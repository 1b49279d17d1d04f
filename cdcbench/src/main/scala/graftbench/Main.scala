package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --runs <dir>`.
  *
  * Untraced (`--trace 0`): set up [[SetupRounds]] times (session start,
  * input generation, [[WarmUpOps]] untimed operations; the first round, in
  * a cold JVM, [[FirstRoundWarmUpOps]]) and report the median as
  * `setup_s`, then run timed operations until `--seconds` have passed and
  * print the end-to-end metrics. Traced (`--trace 1`): the same set-up,
  * then untraced and traced operations alternately (traced: spans, Spark
  * listeners, the system's metrics registry), then the per-layer probes;
  * prints the per-layer metrics and `trace.overhead_pct`: time per row
  * traced minus untraced, as a percentage of untraced.
  *
  * The last stdout line is `{"correct":..,"attempted":..,"failed":..,
  * "metrics":{name: value}}`; the wrapper script attaches units.
  */
object Main {
  val SetupRounds = 3
  /** Timed operations per untraced run, at least: with two, one slow
    * operation moved the median by half its slowdown.
    */
  val MinOps = 3
  /** Untraced/traced pairs per traced run, at least. */
  val MinPairs = 2
  /** Unchecked operations per set-up round. */
  val WarmUpOps = 1
  /** Unchecked operations in the first round, in the cold JVM: with one,
    * the timed operations were still getting faster through the run while
    * the JIT compiled the hot paths.
    */
  val FirstRoundWarmUpOps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    val wl = Workload.all.getOrElse(name, throw new IllegalArgumentException(s"unknown workload $name"))()
    val envStart = envStamp()
    val cpuStart = cpuTicks()
    val tracer = new Tracer(s"$name-seed$seed-${ProcessHandle.current().pid()}", enabled = false)

    var spark: SparkSession = null
    def ctx = Ctx(spark, work, seed, cores, tracer)
    val setupS = (0 until SetupRounds).map { round =>
      Workload.timedS {
        if (spark != null) { spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
        graft.core.Tmp.deleteRecursively(work)
        Files.createDirectories(work)
        spark = newSession(work.toString, cores)
        wl.prepare(ctx)
        (0 until (if (round == 0) FirstRoundWarmUpOps else WarmUpOps))
          .foreach(i => wl.run(ctx, -1 - i, check = false))
      }
    }

    var next = 1
    def op(): Sample = {
      val s = tracer.span("op") { wl.run(ctx, next, check = true) }
      next += 1
      s
    }
    /** Closed loop: back to back until `s` seconds have passed, at least `min` times. */
    def loop[T](s: Double, min: Int)(one: => T): Vector[T] = {
      val end = System.nanoTime() + (s * 1e9).toLong
      val out = Vector.newBuilder[T]
      var n = 0
      while (n < min || System.nanoTime() < end) { out += one; n += 1 }
      out.result()
    }

    var registryFailed = 0L
    val (samples, metrics) =
      if (!trace) {
        val s = loop(seconds, MinOps)(op())
        (s, endToEnd(s, setupS))
      } else {
        // untraced and traced operations alternate, so both see the same
        // JIT and machine state and their difference is the tracing cost;
        // which goes first alternates too, as operations still speed up
        // through the run
        val collector = new SparkCollector(spark)
        graft.metrics.Metrics.reset()
        var tracedS = 0.0
        def tracedOp(): Sample = {
          collector.install()
          val registry = graft.metrics.MetricsListeners.install(spark)
          tracer.enabled = true
          val t0 = System.nanoTime()
          try op() finally {
            tracedS += (System.nanoTime() - t0) / 1e9
            tracer.enabled = false
            collector.uninstall()
            graft.metrics.MetricsListeners.uninstall(spark, registry)
          }
        }
        var pair = 0
        val pairs = loop(seconds, MinPairs) {
          pair += 1
          if (pair % 2 == 1) { val plain = op(); (plain, tracedOp()) }
          else { val traced = tracedOp(); (op(), traced) }
        }
        val (plain, traced) = pairs.unzip
        val reg = graft.metrics.Metrics.snapshot()
        registryFailed = wl.checkRegistry(reg, traced)
        tracer.enabled = true
        val (probes, probesFailed) = tracer.span("probes") { wl.probes(ctx) }
        tracer.enabled = false
        registryFailed += probesFailed
        val layerKeys = traced.flatMap(_.layers.keys).distinct
        val layers = layerKeys.map(k => k -> Workload.median(traced.flatMap(_.layers.get(k)))).toMap
        val overhead = (Workload.median(plain.map(_.rate)) / Workload.median(traced.map(_.rate)) - 1) * 100
        (plain ++ traced, PerLayer.names.map(_ -> 0.0).toMap ++ collector.metrics(tracedS, cores) ++
          layers ++ probes ++ PerLayer.fromRegistry(reg) ++ Map("trace.overhead_pct" -> overhead))
      }

    val attempted = samples.map(_.rows).sum
    val failed = samples.map(_.failed).sum + registryFailed
    val envEnd = envStamp() ++ Map("cpu_steal_share" -> stealShare(cpuStart, cpuTicks()))
    spark.stop()

    val artifact = Map("workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cores" -> cores, "params" -> wl.params, "env_start" -> envStart, "env_end" -> envEnd,
      "setup_rounds_s" -> setupS,
      "ops" -> samples.map(s => Map("rows" -> s.rows, "failed" -> s.failed, "rate" -> s.rate,
        "op_ms" -> s.opMs) ++ s.layers),
      "metrics" -> metrics)
    val runs = Paths.get(opt("runs")).toAbsolutePath
    Files.createDirectories(runs)
    Files.write(runs.resolve(s"$name-seed$seed-trace${if (trace) 1 else 0}.json"),
      Json.render(artifact).getBytes("UTF-8"))
    if (trace)
      Files.write(runs.resolve(s"$name-seed$seed-spans.json"), Json.render(tracer.toJson).getBytes("UTF-8"))
    graft.core.Tmp.deleteRecursively(work)

    println("cdcbench env " + Json.render(Map("start" -> envStart, "end" -> envEnd)))
    println(Json.render(Map("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metrics)))
  }

  private def endToEnd(s: Seq[Sample], setupS: Seq[Double]): Map[String, Double] = Map(
    "setup_s" -> Workload.median(setupS),
    "peak_rss_mb" -> peakRssMb(),
    "rows_per_s" -> Workload.median(s.map(_.rate)))

  def newSession(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("cdcbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def procField(file: String, key: String): Option[String] =
    try {
      val src = scala.io.Source.fromFile(file)
      try src.getLines().collectFirst { case l if l.startsWith(key) => l.drop(key.length).trim }
      finally src.close()
    } catch { case _: java.io.IOException => None }

  def peakRssMb(): Double =
    procField("/proc/self/status", "VmHWM:").map(_.split("\\s+")(0).toDouble / 1024).getOrElse(0.0)

  /** Machine state beside each run, so a noisy run can be told apart:
    * load, free memory, and the time one core takes for a fixed piece of
    * work (SHA-256 over 32 MB), which shows a slower host.
    */
  def envStamp(): Map[String, Any] = Map(
    "loadavg_1m" -> procField("/proc/loadavg", "").map(_.split("\\s+")(0).toDouble).getOrElse(-1.0),
    "mem_available_mb" ->
      procField("/proc/meminfo", "MemAvailable:").map(_.split("\\s+")(0).toLong / 1024).getOrElse(-1L),
    "calib_ms" -> calibrationMs(),
    "epoch_ms" -> System.currentTimeMillis())

  private def calibrationMs(): Double = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = new Array[Byte](1 << 20)
    Workload.median((0 until 3).map { _ =>
      Workload.timedS((0 until 32).foreach(_ => md.update(buf))) * 1000
    })
  }

  /** Aggregate CPU jiffies from `/proc/stat`: (steal, total). */
  private def cpuTicks(): (Long, Long) =
    procField("/proc/stat", "cpu ").map(_.split("\\s+").map(_.toLong))
      .map(t => (if (t.length > 7) t(7) else 0L, t.take(8).sum)).getOrElse((0L, 0L))

  /** Share of CPU time the hypervisor gave to other guests between two readings. */
  private def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0
}
