package graft.stream

import scala.collection.immutable.ListMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.changelog.Changelog
import graft.core.LocalFs

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
  * resolves the same state whichever phase finishes first. Seqnos are
  * `((epochId + 1) << 32) + rowNumber` — monotone across restarts because
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

  /** Changelog phase: streaming changelog with expansion + durable seqnos,
    * `foreachBatch` so each micro-batch gets its epoch-scoped seqnos and
    * any pipe (file/JDBC/Kafka) can sit at the end.
    *
    * @param changelog streaming DataFrame with an `op` column
    *                  (insert/update/delete) and arbitrary payload columns
    * @param orderCols intra-batch ordering, typically (ts, event_id)
    * @param sink      called once per micro-batch with expanded rows
    */
  def changelogPhase(changelog: DataFrame, orderCols: Seq[String],
                     checkpoint: String, sink: (DataFrame, Long) => Unit): StreamingQuery = {
    // offset/commit logs and state files go through FileContext
    LocalFs.install(changelog.sparkSession)
    changelog.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        // row index within the batch: a partition-less window over the
        // natural order cols, run in ONE task. `foreachBatch` hands over the
        // batch with unknown partitioning, so without the coalesce the
        // window plans an `Exchange SinglePartition` (under AQE its own map
        // job); coalesced, the sort, the window and the sink's write share
        // the one task of one job. The trade-off: an input spanning several
        // partitions also runs its upstream narrow work (decode, expand) in
        // that task. Fine at micro-batch scale (bounded by
        // maxOffsetsPerTrigger; `graft-binlog` delivers one ordered
        // partition), NOT at table scale.
        val expanded = Changelog.expandUpdates(batch).coalesce(1)
        val w = org.apache.spark.sql.expressions.Window
          .orderBy((orderCols.map(col) :+ col("half")).map(_.asc): _*)
        val withSeqno = expanded.withColumn("seqno",
          Changelog.epochSeqno(epochId + 1, row_number().over(w).cast("long")))
        sink(withSeqno, epochId)
      }
      .start()
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
