package graft.stream

import scala.collection.immutable.ListMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.changelog.Changelog
import graft.core.LocalFs
import graft.encode.CommonFormatJson
import graft.pipes.EpochFileSink

/** Snapshot + changelog orchestration (O3/O4/O6).
  *
  * Reference protocol (/root/reference/streamer/streamer.go:183-310):
  *  1. the changelog consumer is created BEFORE snapshotting (":196-199 —
  *     Consumer MUST be created before snapshotting the table") so no event
  *     in (fence, now] is lost;
  *  2. the snapshot waits until the source replica has caught up to the
  *     binlog reader's start GTID (waitForGtid :105-157), then scans;
  *  3. snapshot rows carry a sentinel seqno (snapshot/mysql.go:301), log
  *     rows carry the monotone per-cluster seqno; readers resolve conflicts
  *     latest-seqno-wins.
  *
  * Spark mapping: [[Coordinator.runTask]] starts [[changelogPhase]] (the
  * consumer) before it evaluates [[snapshotPhase]], the order of
  * streamer.go:196-199, and writes the snapshot while the query's epochs
  * run; the query's checkpoint holds its offsets, so buffered events come
  * free from micro-batch replay. The phases write separate directories
  * and snapshot rows carry the sentinel seqno, so latest-seqno-wins
  * resolves the same state whichever phase finishes first. The stream
  * plans each epoch once (expand, encode, sort, write) and the sink's
  * writer numbers the seqnos, `((epochId + 1) << 32) + rowNumber`, as it
  * writes the epoch's sorted rows — monotone across restarts because
  * epochId is checkpointed (vs. the reference persisting the counter every
  * SeqnoSaveInterval and skipping forward — changelog/mysql.go:394-417).
  */
object Streamer {

  val SnapshotSeqno = 0L // sentinel: any log event outranks snapshot state

  /** Snapshot phase: batch snapshot rows with the sentinel seqno, in one
    * projection (`withColumns` is one `select`).
    */
  def snapshotPhase(snapshot: DataFrame): DataFrame =
    snapshot.withColumns(ListMap(
      "seqno" -> lit(SnapshotSeqno), "op" -> lit("insert"), "half" -> lit(1)))

  /** Changelog phase: the streaming changelog, expanded, CF-encoded and
    * written one epoch at a time to `outDir/epoch=N` with its `_DONE` by
    * [[graft.pipes.EpochFileSink]]. The whole epoch is one streaming plan,
    * built here once, that Structured Streaming plans once per micro-batch:
    * expand, `coalesce(1)`, project the order columns, `half` and the CF
    * record split around its SeqNo digits, local sort on
    * `orderCols :+ "half"` (the sink's required ordering), write. The
    * writer numbers the seqnos as the sorted rows arrive:
    * `((epochId + 1) << 32) + 1..n`.
    *
    * Multi-partition sources: `coalesce(1)` gives one ordered task per
    * epoch, with no Exchange, because there is one ordered binlog per
    * cluster and one seqno counter per cluster (changelog/mysql.go:394-402);
    * `graft-binlog` delivers one partition, and an input spanning several
    * partitions runs its narrow upstream work (decode, expand) in that one
    * task too. Fine at micro-batch scale (bounded by the source's per-trigger
    * cap), NOT at table scale. The sink fails an epoch that reaches it in
    * more than one partition, so seqnos cannot collide.
    *
    * @param changelog   streaming DataFrame with an `op` column
    *                    (insert/update/delete) and the payload columns
    * @param pkCols      primary key columns (the CF `Key`)
    * @param payloadCols columns encoded into the CF `Fields`
    * @param orderCols   intra-batch ordering, typically (ts, event_id)
    * @return the running query; [[graft.pipes.EpochFileSink.Run.await]]
    *         returns the epochs' `_DONE` entries
    */
  def changelogPhase(changelog: DataFrame, pkCols: Seq[String], payloadCols: Seq[String],
                     orderCols: Seq[String], checkpoint: String,
                     outDir: String): EpochFileSink.Run = {
    // offset/commit logs and state files go through FileContext
    LocalFs.install(changelog.sparkSession)
    val expanded = Changelog.expandUpdates(changelog).coalesce(1)
    val cf = CommonFormatJson.encodeSplit(expanded, pkCols, payloadCols)
    val sortCols = orderCols :+ "half"
    EpochFileSink.start(
      expanded.select(sortCols.map(col) :+ cf.head.as(EpochFileSink.Head) :+
        cf.tail.as(EpochFileSink.Tail): _*),
      sortCols, outDir, checkpoint)
  }

  /** Latest-state resolution: one row per key, highest seqno wins; delete
    * tombstones drop the key (idempotent-sink semantics,
    * encoder/sql.go:133-148 last-writer-wins).
    */
  def resolveLatest(all: DataFrame, keyCols: Seq[String], orderCols: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(col(_).desc): _*)
    all.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && col("op") =!= "delete")
      .drop("_rn")
  }
}
