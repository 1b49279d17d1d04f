package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark: every catalog query at the given scale factor,
  * one JSON line on stdout.
  *
  * Methodology: `noop` write forces full materialization of every column
  * (a bare `count()` would let Catalyst prune the computed columns away);
  * one small warmup query amortizes JVM/codegen startup so per-query
  * numbers measure the plan, not first-run compilation. The catalog runs
  * as `SPARK_GRAFT_REPEATS` (default 3) full ROUND-ROBIN passes and each
  * query reports its per-query MEDIAN across passes. Repeats are
  * interleaved, not consecutive: a transient load window on the machine
  * can inflate all three back-to-back samples of several adjacent
  * queries at once (r6: four alphabetically contiguous queries measured
  * 5-12x their recorded cost while the catalog-wide median ratio was
  * 1.011), whereas with whole-catalog passes the same window corrupts at
  * most one of each query's samples and the median rejects it.
  */
object Bench {

  /** Family tags → query sets, derived from the registry modules
    * themselves so a new query is always tagged automatically. Used by
    * SPARK_GRAFT_FAMILY to re-bench only the families a change touched
    * (the full 3-repeat catalog costs ~6-7 min of wall; one family is
    * seconds). `stream` additionally collects the streaming rows that
    * live in QueriesCdc.
    */
  val Families: Map[String, Set[String]] = Map(
    "cdc" -> QueriesCdc.queries.keySet,
    "analytics" -> QueriesAnalytics.queries.keySet,
    "extra" -> QueriesExtra.queries.keySet,
    "quality" -> QueriesQuality.queries.keySet,
    "pipes" -> QueriesPipes.queries.keySet,
    "training" -> QueriesTraining.queries.keySet,
    "relational" -> QueriesRelational.queries.keySet,
    "lake" -> QueriesLayout.queries.keySet,
    "graph" -> QueriesGraph.queries.keySet,
    "incremental" -> QueriesIncremental.queries.keySet,
    "stream" -> SparkEntry.queries.keySet.filter(_.startsWith("q_stream_")))
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val repeats = math.max(1, sys.env.get("SPARK_GRAFT_REPEATS").map(_.trim.toInt).getOrElse(3))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def once(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      catch { case _: Throwable => return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }

    // After each query run, release every persistent RDD:
    // localCheckpoint() results are pinned in the block manager and never
    // unpersisted by their owner, so a 70-query pass otherwise
    // accumulates dead blocks and the resulting memory pressure inflated
    // later queries by 3-8x (q_dedup_minhash measured 7.8 s in the full
    // run vs 0.5 s isolated).
    def onceClean(name: String): Double = {
      val t = once(name)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      // Unload every state-store provider and park the maintenance
      // thread: a catalog pass runs ~15 streaming queries x 3 passes,
      // and each bounded replay's providers linger in
      // StateStore.loadedProviders after termination (unload is lazy,
      // via the coordinator at the next maintenance tick) — dead stores
      // pinning their final maps and doing snapshot maintenance against
      // already-deleted checkpoints while LATER queries are being
      // measured. Providers reload lazily, so the next streaming query
      // pays a cold open it would have paid anyway on a fresh run.
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      // per-query persisted intermediates registered for harness cleanup
      // (dsirSelect's DISK_ONLY gram stream) — same dead-block hygiene as
      // the getPersistentRDDs sweep above, but through the typed handles
      graft.core.CacheRegistry.releaseAll()
      // Shuffle files are only deleted when ContextCleaner's weak refs
      // get GC'd, and an idle-heap catalog run (~tens of ms of GC per
      // query) almost never collects — local dirs accumulate a full
      // pass's shuffle output and file-heavy queries pay the page-cache
      // pressure. DEFAULT since r14: the controlled A/B at 156 queries
      // measured 135.8 s without the collect vs 123.3 s with it, and the
      // with-GC run lands the r12-common subset at exactly the r12 pace
      // (100.1 vs 99.8 s) — the ~8% "catalog-size churn smear" was
      // precisely this accumulation.
      System.gc()
      t
    }

    // MACHINE-STATE EVIDENCE (r13 verdict task 1): the r13 artifact could
    // not distinguish engine drift from page-cache state — "the gate's
    // DuckDB replay evicted the cache" was a narrative, not data. Record
    // enough of /proc + statfs that a reader can adjudicate a drifted run
    // from the artifact alone: free/cached memory (a near-zero Cached at
    // start means every fixture read hits disk), /tmp fill (Spark local
    // dirs + scratch checkpoints live there; a full device serializes
    // shuffle writes), and the fixture-warmth probe below.
    def meminfoKb(key: String): Long =
      try scala.io.Source.fromFile("/proc/meminfo").getLines()
        .collectFirst { case l if l.startsWith(key + ":") =>
          l.split("\\s+")(1).toLong }.getOrElse(-1L)
      catch { case _: Throwable => -1L }
    val memAvailStart = meminfoKb("MemAvailable")
    val cachedStart = meminfoKb("Cached")
    def tmpFill(): (Long, Long) =
      try {
        val f = new java.io.File(System.getProperty("java.io.tmpdir"))
        (f.getTotalSpace / (1 << 20), f.getUsableSpace / (1 << 20))
      } catch { case _: Throwable => (-1L, -1L) }
    val (tmpTotalMb, tmpFreeStartMb) = tmpFill()
    // stamp the producing commit so tools/bench_adjudicate.py can
    // auto-run the control replay (prior commit, same window) without
    // a hand-supplied sha
    def gitLine(cmd: String*): Option[String] =
      try {
        val p = new ProcessBuilder(cmd: _*)
          .redirectErrorStream(true).start()
        val out = new String(p.getInputStream.readAllBytes()).trim
        if (p.waitFor() == 0) Some(out) else None
      } catch { case _: Throwable => None }
    // A dirty working tree means HEAD is NOT the code that produced this
    // artifact — replaying that commit as an adjudication control would be
    // a silently wrong control. Stamp git_head:null plus git_dirty:true so
    // tools/bench_adjudicate.py refuses the replay instead of trusting it.
    // Scoped to the paths that shape the measurement (source, build
    // definition, the adjudication tooling itself): round artifacts at the
    // repo root (BENCH_r*.json, VERDICT.md, BENCH_FULL.json) are the NORMAL
    // post-round working-tree state and do not change what a control replay
    // of HEAD would execute — a whole-tree check nulled git_head on every
    // routine run and silently disabled the auto-control. Untracked files
    // under these paths still count as dirty (a new source file compiles
    // into the measured build), so no -uno. Root-level sbt JVM config
    // (.jvmopts/.sbtopts) is in scope too (r18 ADVICE item 2): sbt reads
    // both and they shape the measured JVM (heap, GC), so an untracked
    // .jvmopts would otherwise stamp a git_head whose control replay runs
    // a different heap configuration. Pathspecs for absent files are
    // legal and match nothing.
    val gitDirty = gitLine("git", "status", "--porcelain", "--",
      "src", "project", "build.sbt", "tools", ".jvmopts", ".sbtopts").exists(_.nonEmpty)
    val gitHead: Option[String] =
      gitLine("git", "rev-parse", "HEAD")
        .filter(_.matches("[0-9a-f]{40}")).filterNot(_ => gitDirty)
    // Stamp every SPARK_GRAFT_* knob that shaped this run, so the control
    // replay reconstructs the exact bench configuration instead of
    // inheriting whatever the adjudicator's shell happens to export.
    val graftEnv: Map[String, String] =
      sys.env.filter { case (k, _) => k.startsWith("SPARK_GRAFT_") }

    // warmup: JVM + codegen + parquet footer/page caches for every input.
    // FIXTURE-WARMTH PROBE: time the same full-fixture scan twice. The
    // second scan always reads from a just-touched page cache, so
    // scan1/scan2 ≈ 1 means the fixtures were ALREADY warm when the run
    // started, while a large ratio means the run started cold and pass-1
    // samples carry disk reads the later passes do not.
    def fixtureScanSec(): Double = {
      val t0 = System.nanoTime()
      graft.core.Tables.all.foreach(t =>
        graft.core.Tables.load(spark, sfDir, t).write.mode("overwrite").format("noop").save())
      (System.nanoTime() - t0) / 1e9
    }
    // Pay JVM class-loading / codegen / parquet-reader init BEFORE the
    // timed pair, against the SMALLEST table only (region is a few KB —
    // warming it perturbs the big tables' page-cache state by nothing),
    // so scan1/scan2 isolates page-cache coldness instead of conflating
    // it with first-scan JIT (which made a warm run read as COLD).
    try graft.core.Tables.load(spark, sfDir, "region")
      .write.mode("overwrite").format("noop").save()
    catch { case _: Throwable => () }
    val (fixtureScan1, fixtureScan2) =
      try (fixtureScanSec(), fixtureScanSec()) catch { case _: Throwable => (-1.0, -1.0) }
    try SparkEntry.queries("q1_agg")(spark, sfDir)
      .write.mode("overwrite").format("noop").save()
    catch { case _: Throwable => () }

    // AMBIENT-LOAD GUARD: same-build runs of this catalog have measured
    // 109 s vs 172 s purely from an external process on the machine
    // (BASELINE.md round-8 note), which aliases round-over-round signal.
    // Two instruments distinguish load from regression: /proc/loadavg
    // snapshots, and a fixed data-independent CPU probe (600M xxhash64 on
    // 32 even splits, ~0.65 s on an idle machine) sampled after warmup
    // and again after every pass. If the probe's MEDIAN deviates >1.5x
    // from the recorded idle reference, the run is flagged load_suspect
    // and its per-query times should not be read as engine drift.
    def loadavg(): Seq[Double] =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split(" ").take(3).map(_.toDouble).toSeq
      catch { case _: Throwable => Seq(-1.0, -1.0, -1.0) }
    val loadStart = loadavg()
    val calibRef = 0.65
    def calibOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 600000000L, 1, 32)
        .selectExpr("pmod(xxhash64(id), 1048576) AS h")
        .agg(org.apache.spark.sql.functions.sum("h")).collect()
      (System.nanoTime() - t0) / 1e9
    }
    val calibSamples = scala.collection.mutable.ArrayBuffer[Double]()
    try { calibOnce(); calibSamples += calibOnce() } // first run pays codegen; discard it
    catch { case _: Throwable => () }

    // dev loop: SPARK_GRAFT_ONLY=q_a,q_b restricts the run to a subset;
    // SPARK_GRAFT_FAMILY=stream,lake expands family tags (the registry
    // source modules) to their query sets so a round that touched one
    // family can re-bench just that family. Both can combine.
    val familyPick: Set[String] = sys.env.get("SPARK_GRAFT_FAMILY") match {
      case None => Set.empty
      case Some(fams) =>
        val picked = fams.split(",").map(_.trim).filter(_.nonEmpty).toSet
        val unknown = picked.diff(Families.keySet)
        if (unknown.nonEmpty)
          System.err.println(s"WARNING: unknown SPARK_GRAFT_FAMILY tags: " +
            s"${unknown.toSeq.sorted.mkString(", ")} (have: ${Families.keys.toSeq.sorted.mkString(", ")})")
        picked.flatMap(Families.getOrElse(_, Set.empty))
    }
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .map(_ ++ familyPick)
      .orElse(if (familyPick.nonEmpty) Some(familyPick) else None)
    only.foreach { o =>
      val unknown = o.diff(SparkEntry.queries.keySet)
      if (unknown.nonEmpty)
        System.err.println(
          s"WARNING: SPARK_GRAFT_ONLY names match no catalog query: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // `repeats` full round-robin passes; per-query median across passes
    // (any failed run fails the query).
    // INTRA-PASS CALIB TRACK (r18 verdict task 2): one calib sample per
    // pass boundary cannot see a load window that opens and closes WITHIN
    // a pass (~80 s of queries at sf0.1) — r18 shipped 19 false
    // "regressed" rows that three consecutive rounds of manual A/B/A had
    // to excuse. The probe now also fires every `calibEvery` queries
    // inside each pass, and every query sample is stamped with the MEAN
    // of its two bracketing probes (the "calib" array in the spread
    // block: pass order, parallel to "runs"), so bench_adjudicate.py can
    // normalize each sample by its own window's heat before classifying
    // instead of needing a manual A/B/A. Probe cost (~0.65 s idle, ~10
    // probes per 169-query pass) is wall-clock only — it is never added
    // to any query's measured time.
    val calibEvery = 20
    def bracketCtx(marks: Seq[(Int, Double)]): Map[String, Double] =
      names.zipWithIndex.map { case (n, i) =>
        val before = marks.filter(_._1 <= i).lastOption.map(_._2)
        val after = marks.find(_._1 > i).map(_._2)
        val cs = before.toSeq ++ after.toSeq
        n -> (if (cs.isEmpty) -1.0 else cs.sum / cs.size)
      }.toMap
    def runPass(): (Map[String, Double], Map[String, Double]) = {
      val times = scala.collection.mutable.LinkedHashMap[String, Double]()
      val marks = scala.collection.mutable.ArrayBuffer[(Int, Double)]()
      def mark(i: Int): Unit =
        try { val c = calibOnce(); calibSamples += c; marks += ((i, c)) }
        catch { case _: Throwable => () }
      mark(0)
      names.zipWithIndex.foreach { case (n, i) =>
        times(n) = onceClean(n)
        if ((i + 1) % calibEvery == 0 && i + 1 < names.size) mark(i + 1)
      }
      mark(names.size)
      (times.toMap, bracketCtx(marks.toSeq))
    }
    val passPairs: Seq[(Map[String, Double], Map[String, Double])] =
      (1 to repeats).map(_ => runPass())
    val passes: Seq[Map[String, Double]] = passPairs.map(_._1)
    val results = names.map { n =>
      val runs = passes.map(_(n))
      n -> (if (runs.exists(_ < 0)) -1.0 else runs.sorted.apply(runs.size / 2))
    }
    // PER-QUERY SPREAD: the calibration probe brackets passes, so a
    // sub-threshold load window (calib "clean" at 0.9x-1.5x ref) can
    // still spike individual sub-second queries 5-6x within one pass.
    // min/median/max across the repeats plus spread_ratio = max/min let
    // a reader classify every outlier from the artifact alone: a
    // suspect-flagged query's MEDIAN is still load-robust (one corrupted
    // pass of three cannot move it), but its max is not to be read as
    // engine cost. Flag threshold 2.5x — ordinary scheduler jitter on
    // sub-second queries stays under ~2x.
    // `runs` stays in PASS ORDER in the artifact: a suspect whose max is
    // pass 1 is per-query cold cost (fixture memoization, first codegen),
    // one whose max is a later pass is a transient load window — the two
    // are indistinguishable from min/max alone.
    val spread = names.map { n =>
      val inOrder = passes.map(_(n))
      val runs = inOrder.filter(_ >= 0)
      val (mn, mx) = if (runs.isEmpty) (-1.0, -1.0) else (runs.min, runs.max)
      val ratio = if (mn > 0) mx / mn else -1.0
      n -> ((inOrder, mn, mx, ratio, ratio > 2.5))
    }
    val spreadSuspects = spread.collect { case (n, (_, _, _, _, true)) => n }

    // source-level throughput (rows/s) for the two streaming sources, so
    // source regressions are visible distinctly from planner jitter.
    // Each source carries a recorded FLOOR (~60% of the trailing best at
    // sf0.1: 49k rows/s binlog replay, 40k kafka roundtrip, builder r6
    // closing runs) and the bench emits an explicit per-source verdict —
    // r6's 28.7k kafka sample was indistinguishable from a real source
    // regression without digging through two files' history.
    // socket-twin floors calibrated from the r8 control runs (~60% of
    // observed: changelog_socket ~21k rows/s over the wire incl. 4
    // reconnect+dump cycles). kafka_socket raised 7500 -> 12000 in r9
    // after the drain was re-dialed (2 full micro-batches per drain
    // instead of 5, tmpfs scratch checkpoints, 4k-record wire produce
    // batches): observed 18.7k rows/s interleaved / 20.5k warm, floor
    // again ~60% of observed.
    // r11 RECALIBRATION back to the 60%-of-trailing-best rule: the
    // native/roundtrip floors had drifted to 83-86% of observed, so
    // sub-threshold load windows (calib 1.2-1.4x) false-alarmed three
    // rounds in a row. Clean closing run (all floors/ceilings green,
    // calib at idle ref): native 33.8k, roundtrip 29.0k,
    // changelog_socket 21.0k, kafka_socket 18.0k — x0.6 each.
    val floors = Map("q_changelog_native" -> 20000.0, "q_kafka_roundtrip" -> 17000.0,
      "q_changelog_socket" -> 12500.0, "q_kafka_socket" -> 11000.0)
    val throughput = Seq("q_changelog_native", "q_kafka_roundtrip",
        "q_changelog_socket", "q_kafka_socket")
      .filter(n => names.contains(n))
      .map { n =>
        val sec = results.toMap.apply(n)
        val rows = try SparkEntry.queries(n)(spark, sfDir).count() catch { case _: Throwable => -1L }
        n -> (if (sec > 0 && rows >= 0) math.round(rows / sec).toDouble else -1.0)
      }
    // floors are calibrated at sf0.1 — at smaller factors fixed per-batch
    // overhead dominates rows/s and would false-alarm
    val floorsApply = sfDir.replaceAll("/+$", "").endsWith("sf0.1")
    val floorFirst = throughput.map { case (n, v) =>
      n -> (!floorsApply || v < 0 || floors.get(n).forall(v >= _)) // a failed query already reports -1
    }
    // FLOOR SELF-ADJUDICATION (r16 verdict task 2): floors are calibrated
    // on an idle machine, so a hot window (external load) trips them while
    // the plan is unchanged — r16's artifact shipped two floor reds that
    // only a later cooler run and the control replay excused. Make the
    // artifact carry its own evidence instead: each floor-red row is
    // re-measured ONCE at the end of the sweep (these queries cost 2-7 s)
    // bracketed by a fresh calibration sample, and the verdict admits a
    // load-scaled floor — floor x (idle_ref / calib_at_retry), clamped at
    // no lower than x0.4 so a saturated machine can never excuse a real
    // source regression. Every non-green verdict then carries the retry
    // numbers in the artifact itself.
    val floorRetry: Map[String, (Double, Double, Double, Double)] =
      floorFirst.collect { case (n, false) =>
        val calibAtRetry = try calibOnce() catch { case _: Throwable => -1.0 }
        val sec = onceClean(n)
        val rows = try SparkEntry.queries(n)(spark, sfDir).count() catch { case _: Throwable => -1L }
        val rps = if (sec > 0 && rows >= 0) math.round(rows / sec).toDouble else -1.0
        val scale = if (calibAtRetry > 0) math.max(0.4, math.min(1.0, calibRef / calibAtRetry)) else 1.0
        n -> ((sec, rps, calibAtRetry, floors(n) * scale))
      }.toMap
    // Tri-state verdict (r17 ADVICE): a retry that clears only the
    // LOAD-ADJUSTED floor (down to ×0.4) is evidence of a hot window, not
    // proof of health — flipping the boolean to plain true made a real
    // ~50% source regression on a loaded machine indistinguishable from
    // green for any consumer reading only rows_per_sec_floor_ok. The
    // boolean now stays false unless the FULL floor was met (first pass or
    // retry); "retry_conditional" in floor_status plus the embedded retry
    // numbers let adjudication tooling — not the artifact — decide whether
    // the ambient load excuses it.
    val floorStatus: Seq[(String, String)] = floorFirst.map { case (n, firstOk) =>
      n -> (if (firstOk) "green"
      else floorRetry.get(n) match {
        case Some((_, rps, _, _)) if rps >= floors(n) => "retry_green"
        case Some((_, rps, _, adjFloor)) if rps >= adjFloor => "retry_conditional"
        case _ => "red"
      })
    }
    val floorVerdicts = floorStatus.map { case (n, st) =>
      val ok = st == "green" || st == "retry_green"
      st match {
        case "red" => System.err.println(
          s"FLOOR VIOLATION: $n at ${math.round(throughput.toMap.apply(n))} rows/s, floor ${floors(n).toLong} (retry did not recover)")
        case "retry_green" =>
          val (_, rps, calib, _) = floorRetry(n)
          System.err.println(
            f"FLOOR RETRY GREEN: $n first pass ${math.round(throughput.toMap.apply(n))} rows/s < ${floors(n).toLong}, retry ${math.round(rps)} rows/s meets the full floor (calib $calib%.2f s)")
        case "retry_conditional" =>
          val (_, rps, calib, adj) = floorRetry(n)
          System.err.println(
            f"FLOOR RETRY CONDITIONAL: $n retry ${math.round(rps)} rows/s clears only the load-adjusted floor ${adj}%.0f (full floor ${floors(n).toLong}, calib $calib%.2f s) — verdict stays false; adjudicate from floor_retry")
        case _ => ()
      }
      n -> ok
    }

    // CEILINGS — the floor mechanism inverted, for the heaviest queries:
    // each carries a generous bound (~2.5x its same-build clean-run
    // median at sf0.1) so a real plan regression trips it while ordinary
    // scheduling jitter does not. A ceiling violation on a load_suspect
    // run is noise; on a clean run it is a regression to investigate.
    // r11: hybrid CC (driver union-find under 1M edges) collapsed the
    // cluster-family times — ceilings re-pinned to ~2.5x the new
    // same-build clean medians (embed_clusters 2.2 s, semdedup 1.6 s,
    // dedup_clusters 1.7 s)
    val ceilings = Map(
      "q_dedup_clusters" -> 4.5, "q_binlog_binary" -> 11.0,
      // r11: hybrid driver fixed-point loop at fixture scale (2.1 s
      // same-build clean; distributed rounds only above the edge cap)
      "q_pagerank" -> 6.0, "q_embed_clusters" -> 6.0,
      "q_semdedup_prune" -> 5.0, "q_kafka_socket" -> 6.0,
      "q_approx_stats" -> 8.0, "q_stream_neardup" -> 8.0,
      "q_stream_join" -> 7.0, "q_changelog_socket" -> 6.5)
    val ceilingVerdicts = ceilings.toSeq.sortBy(_._1)
      .filter { case (n, _) => names.contains(n) }
      .map { case (n, cap) =>
        val sec = results.toMap.apply(n)
        val ok = !floorsApply || sec < 0 || sec <= cap
        if (!ok) System.err.println(
          f"CEILING VIOLATION: $n at $sec%.2f s, ceiling $cap%.1f s")
        n -> ok
      }
    val calibMedian =
      if (calibSamples.isEmpty) -1.0
      else calibSamples.sorted.apply(calibSamples.size / 2)
    val loadSuspect = calibMedian > 1.5 * calibRef
    if (loadSuspect) System.err.println(
      f"LOAD SUSPECT: calibration probe median $calibMedian%.2f s vs idle reference $calibRef%.2f s — per-query times reflect ambient machine load, not engine drift")
    val loadEnd = loadavg()

    // The driver captures only the last ~2000 chars of stdout; a JSON line
    // carrying all ~108 queries at full double precision is ~4 KB, so its
    // head gets truncated and the driver records parsed:null (this happened
    // in rounds 4-5). Emit a compact line — headline subset, 3-decimal
    // values — and write the complete per-query map to BENCH_FULL.json.
    // Locale.ROOT: f"%.3f" under a comma-decimal default locale would
    // emit 68,700 — malformed JSON, the very parsed:null failure this
    // compact line exists to fix
    def j(v: Double): String =
      if (v < 0) "-1" else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val headline = Seq(
      "q1_agg", "q3_join_topk", "q_dedup_minhash", "q_minhash_lsh",
      "q_dedup_pipeline", "q_embed_clusters", "q_embed_topk", "q_ivf_probe",
      "q_ivfpq_topk", "q_pq_topk", "q_semdedup_prune", "q_substring_dedup", "q_corpus_clean",
      "q_curation_e2e", "q_decontaminate", "q_changelog_native",
      "q_kafka_roundtrip", "q_snapshot_scan", "q_cf_roundtrip",
      "q_avro_roundtrip", "q_sql_dml_idempotent", "q_crypto_roundtrip",
      "q_stream_window", "q_stream_dedup", "q_stream_join", "q_percentiles",
      "q_bm25", "q_text_quality", "q_token_budget")
    val resMap = results.toMap
    val qs = headline.filter(resMap.contains)
      .map(k => "\"" + k + "\":" + j(resMap(k))).mkString("{", ",", "}")
    val tp = throughput.map { case (k, v) => "\"" + k + "\":" + math.round(v) }.mkString("{", ",", "}")
    val fv = floorVerdicts.map { case (k, ok) => "\"" + k + "\":" + ok }.mkString("{", ",", "}")
    // non-green statuses only: normally empty, so the compact line stays
    // inside the driver's ~2000-char tail window
    val fs = floorStatus.filter(_._2 != "green")
      .map { case (k, st) => "\"" + k + "\":\"" + st + "\"" }.mkString("{", ",", "}")
    // embedded re-measure evidence for every floor row that was red on the
    // first pass — a floor verdict is either green outright or carries its
    // own retry numbers (sec, rows/s, bracketing calib, load-adjusted floor)
    val floorRetryJson = floorRetry.toSeq.sortBy(_._1).map {
      case (k, (sec, rps, calib, adjFloor)) =>
        "\"" + k + "\":{\"retry_sec\":" + j(sec) + ",\"retry_rows_per_sec\":" +
          math.round(rps) + ",\"calib_at_retry_s\":" + j(calib) +
          ",\"adjusted_floor\":" + math.round(adjFloor) + "}"
    }.mkString("{", ",", "}")
    val cv = ceilingVerdicts.map { case (k, ok) => "\"" + k + "\":" + ok }.mkString("{", ",", "}")
    // the load instruments belong IN the artifact: a reader of
    // BENCH_r{N}.json must be able to tell a loaded run from engine drift
    // without this process's stderr
    val memAvailEnd = meminfoKb("MemAvailable")
    val (_, tmpFreeEndMb) = tmpFill()
    val fixtureColdStart = fixtureScan1 > 0 && fixtureScan2 > 0 &&
      fixtureScan1 / fixtureScan2 > 1.5
    val envJson = graftEnv.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\"" }
      .mkString("{", ",", "}")
    val machineJson =
      s""""machine":{"git_head":${gitHead.map("\"" + _ + "\"").getOrElse("null")},"git_dirty":$gitDirty,"env":$envJson,"mem_available_start_kb":$memAvailStart,"mem_available_end_kb":$memAvailEnd,"page_cached_start_kb":$cachedStart,"tmp_total_mb":$tmpTotalMb,"tmp_free_start_mb":$tmpFreeStartMb,"tmp_free_end_mb":$tmpFreeEndMb,"fixture_scan1_s":${j(fixtureScan1)},"fixture_scan2_s":${j(fixtureScan2)},"fixture_cold_start":$fixtureColdStart}"""
    val loadJson =
      s""""load_suspect":$loadSuspect,"calib_median_s":${j(calibMedian)},"calib_idle_ref_s":${j(calibRef)},"loadavg_start":[${loadStart.map(j).mkString(",")}],"loadavg_end":[${loadEnd.map(j).mkString(",")}],$machineJson"""
    val total = results.map(_._2).filter(_ >= 0).sum
    val fullQs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // "calib": the per-pass bracketed CPU-probe context for this query's
    // samples, parallel to "runs" — what bench_adjudicate.py divides by
    // (relative to calib_idle_ref_s) to strip window heat per sample
    val calibCtx: Map[String, Seq[Double]] =
      names.map(n => n -> passPairs.map(_._2.getOrElse(n, -1.0))).toMap
    val spreadJson = spread.map { case (k, (inOrder, mn, mx, ratio, sus)) =>
      "\"" + k + "\":{\"runs\":[" + inOrder.map(j).mkString(",") +
        "],\"calib\":[" + calibCtx(k).map(j).mkString(",") +
        "],\"min\":" + j(mn) + ",\"max\":" + j(mx) +
        ",\"ratio\":" + j(ratio) + ",\"suspect\":" + sus + "}"
    }.mkString("{", ",", "}")
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","nq":${results.size},"queries":$fullQs,"spread":$spreadJson,"spread_suspects":[${spreadSuspects.map("\"" + _ + "\"").mkString(",")}],"rows_per_sec":$tp,"rows_per_sec_floor_ok":$fv,"floor_status":$fs,"floor_retry":$floorRetryJson,"ceiling_ok":$cv,$loadJson,"repeats":$repeats,"interleaved":true,"sf":"$sfDir"}"""
    // a SPARK_GRAFT_ONLY dev loop must not clobber the committed full-run
    // record with a partial map
    val fullName = if (only.isEmpty) "BENCH_FULL.json" else "BENCH_DEV.json"
    java.nio.file.Files.write(
      java.nio.file.Paths.get(fullName),
      fullLine.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // the compact line carries only the spread VERDICT (count + first
    // few names); per-query min/max/ratio live in the full artifact
    val susHead = spreadSuspects.take(5).map("\"" + _ + "\"").mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":${j(total)},"unit":"sec","queries":$qs,"rows_per_sec":$tp,"rows_per_sec_floor_ok":$fv,"floor_status":$fs,"floor_retry":$floorRetryJson,"load_suspect":$loadSuspect,"calib_median_s":${j(calibMedian)},"spread_suspect_n":${spreadSuspects.size},"spread_suspects_head":$susHead,"repeats":$repeats,"interleaved":true,"nq":${results.size},"full":"$fullName","sf":"$sfDir"}"""
    if (line.length > 1800)
      System.err.println(s"WARNING: bench summary line is ${line.length} chars; driver tail window is ~2000")
    println(line)
    spark.stop()
  }
}
