package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.encode.CommonFormatJson
import graft.pipes.FileSink
import graft.state.StateStore

/** Driver-side coordinator: the Spark equivalent of the reference's worker
  * loop (O1, /root/reference/main.go:57-66) + streamer start
  * (/root/reference/streamer/streamer.go:224-310).
  *
  * For each unsynced registration: start the changelog phase (Structured
  * Streaming), write the snapshot phase (batch) while its epochs run —
  * the reference's consumer-first order (streamer.go:196-199) — encode to
  * the registered output format, write through the pipe, mark synced.
  * Per-epoch latency is a fixed cost plus the work, so each epoch is one
  * streaming plan, planned once per micro-batch, and one job of one task:
  * the stream expands, encodes and sorts, the sink's writer numbers the
  * seqnos and digests the file it writes, and the sink's commit writes
  * `_DONE` ([[Streamer.changelogPhase]], [[graft.pipes.EpochFileSink]]).
  * Task leases (O2) are not needed — one driver owns all queries;
  * `ClusterConcurrency` (O11) is [[ClusterLimiter]]: wrap `runTask` in
  * `limiter.withSlot(spark, cluster)` to cap concurrent tasks per source
  * cluster and tag their jobs into a per-cluster FAIR pool.
  */
class Coordinator(spark: SparkSession, state: StateStore, outRoot: String) {

  /** Process one registration end-to-end over fixture data: the changelog
    * query starts first and writes each epoch's events, expanded, with
    * epoch seqnos, into `log/epoch=N`; meanwhile this thread writes the
    * snapshot, with seqno-sentinel rows, into `snapshot/`; both go CF-JSON
    * → file pipe with `_DONE` manifest. Each write is one Spark job: the
    * snapshot's ([[FileSink.write]]), and one per epoch, whose sort, encode,
    * seqno numbering, write and file digest share one task: a source with
    * several partitions is coalesced to one ordered task per epoch, as the
    * binlog is one ordered stream per cluster ([[Streamer.changelogPhase]]).
    * The two phases write separate directories and snapshot rows carry
    * seqno 0, so latest-seqno-wins resolves the same state whichever
    * phase finishes first. If the snapshot write fails,
    * the query is stopped before the error propagates; the registration
    * is marked synced only when both phases succeed.
    *
    * @param snapshot  the consistent-snapshot DataFrame (JDBC or parquet)
    * @param changelog streaming DataFrame with `op` + payload columns
    * @param pkCols    primary key column names (row-key source)
    */
  def runTask(reg: StateStore.Registration, snapshot: DataFrame,
              changelog: DataFrame, pkCols: Seq[String], orderCols: Seq[String],
              checkpoint: String): Seq[FileSink.Manifest] = {
    val payloadCols = snapshot.columns.toSeq
    val outDir = s"$outRoot/${reg.cluster}.${reg.db}.${reg.table}.v${reg.version}"

    // Consumer first (streamer.go:196-199): the query's epochs run on its
    // own thread while the snapshot is written on this one.
    val log = Streamer.changelogPhase(changelog, pkCols, payloadCols, orderCols, checkpoint,
      s"$outDir/log")

    // Snapshot with sentinel seqno (snapshot/mysql.go:301)
    val snapManifest =
      try {
        val snap = Streamer.snapshotPhase(snapshot)
        FileSink.write(snap.select(CommonFormatJson.encodeRows(snap, pkCols, payloadCols).as("value")),
          s"$outDir/snapshot", "json")
      } catch {
        case t: Throwable =>
          try log.stop() catch { case s: Throwable => t.addSuppressed(s) }
          throw t
      }
    val logManifest = log.await()

    state.markSynced(reg.key)
    snapManifest ++ logManifest
  }
}
