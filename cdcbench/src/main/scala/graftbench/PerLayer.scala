package graftbench

/** Names of the per-layer metrics. A traced run prints all of them; a
  * layer the workload never calls reads 0 (no spans, no counts).
  */
object PerLayer {
  private val streamPhases = Seq("batches", "rows_per_batch", "latest_offset_ms",
    "query_planning_ms", "add_batch_ms", "wal_commit_ms", "commit_offsets_ms",
    "trigger_ms_p50", "trigger_ms_p99")

  /** Registry counters (reference names, `metrics.go` getEventsMetrics). */
  val registry: Seq[String] = Seq("snapshot_events_read", "snapshot_events_written",
    "snapshot_bytes_written", "streamer_events_read", "streamer_batches")

  val names: Seq[String] =
    Seq("snapshot.scan_s", "encode.cf_s", "encode.out_bytes_per_row", "pipes.file_write_s",
      "pipes.manifest_s", "changelog.dump_s", "changelog.parse_s", "sources.fetch_ms") ++
      Seq("catchup", "tail").flatMap(ph => streamPhases.map(m => s"stream.$ph.$m")) ++
      Seq("stream.catchup_events_per_s", "stream.tail_p50_ms", "stream.tail_p99_ms", "state.commit_ms", "state.rows_total", "state.memory_bytes",
        "state.memory_share", "state.dup_drop_ratio", "encode.epoch_ms", "pipes.epoch_write_ms",
        "gen.late_p99_ms", "gen.backlog_start", "gen.backlog_end",
        "functions.band_keys_s", "analytics.candidate_pairs", "analytics.verified_pairs",
        "analytics.verify_yield", "analytics.verify_s", "analytics.clusters_s",
        "analytics.recall", "analytics.precision", "analytics.max_bucket",
        "spark.plan_ms", "spark.jobs", "spark.tasks", "spark.exec_run_ms", "spark.exec_cpu_ms",
        "spark.busy_share", "spark.gc_ms", "spark.shuffle_write_bytes", "spark.spill_bytes") ++
      registry.map("metrics." + _) ++ Seq("trace.overhead_pct")

  def fromRegistry(snapshot: Map[String, Long]): Map[String, Double] =
    registry.map(k => s"metrics.$k" -> snapshot.getOrElse(k, 0L).toDouble).toMap
}
