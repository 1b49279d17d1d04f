package graft.changelog

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Changelog (binlog) event algebra, Spark-first.
  *
  * The reference tails the MySQL binlog and demuxes WRITE/UPDATE/DELETE_ROWS
  * events (/root/reference/changelog/mysql.go:508-544). Three semantics are
  * reproduced here as declarative DataFrame transforms:
  *
  *  - update => delete+insert pair, delete first
  *    (/root/reference/changelog/mysql.go:530-538, doc/commonformat.md:8)
  *  - NoDeleteOnUpdate gating suppresses the delete half
  *    (/root/reference/config/config.go:167, changelog/mysql.go:532)
  *  - registration routing drops events for unregistered targets
  *    (/root/reference/changelog/mysql.go:546-564)
  *
  * All of it is `inline`/`filter`/`join` — no per-row driver loops, shuffles
  * only where the semantics demand one (none here: expansion and gating are
  * narrow; routing broadcasts the small registration set).
  */
object Changelog {

  /** Columns: op ∈ {insert, update, delete}. Expansion emits `op` (the
    * physical event written to the sink) and `half` (0 = delete half,
    * 1 = insert half) so the delete-before-insert order of an update pair
    * is explicit data, not implicit row order.
    *
    * The reference builds the delete half of an update from the BEFORE
    * image (Rows[i]) and the insert half from the AFTER image (Rows[i+1])
    * — changelog/mysql.go:530-538 — so a PK-changing update deletes the
    * OLD key. `beforeImage` maps payload column -> its before-image column
    * (e.g. "id" -> "before_id"); for the delete half of an update those
    * columns are replaced with their before-image values, and the
    * before-image columns are dropped from the output. When `beforeImage`
    * is empty the caller asserts PK columns are immutable for this stream
    * (the delete half then carries the after-image key, which is equal).
    *
    * Output columns: the input's in order, minus the before-image columns,
    * with `op` (and `half`, if present) replaced in place, else `half`
    * appended. The frame is one `select`: each row becomes an array of
    * whole output rows (one per half) that `inline` unpacks, so the plan
    * is analysed once.
    */
  def expandUpdates(df: DataFrame, opCol: String = "op",
                    beforeImage: Map[String, String] = Map.empty): DataFrame = {
    val dropped = beforeImage.values.toSet
    val kept = df.columns.toSeq.filterNot(dropped)
    val names = if (kept.contains("half")) kept else kept :+ "half"
    val isUpdate = col(opCol) === "update"
    def half(op: String, h: Int): Column = struct(names.map {
      case `opCol` => lit(op).as(opCol)
      case "half" => lit(h).as("half")
      case c => (beforeImage.get(c) match {
        case Some(b) if h == 0 => when(isUpdate, col(quoted(b))).otherwise(col(quoted(c)))
        case _ => col(quoted(c))
      }).as(c)
    }: _*)
    df.select(inline(
      when(isUpdate, array(half("delete", 0), half("insert", 1)))
        .when(col(opCol) === "delete", array(half("delete", 0)))
        .otherwise(array(half("insert", 1)))))
  }

  private def quoted(name: String): String = "`" + name.replace("`", "``") + "`"

  /** NoDeleteOnUpdate: updates contribute only their insert half; true
    * deletes pass through. Applied BEFORE expansion in the reference
    * (changelog/mysql.go:530-538); here after, by dropping delete-halves
    * whose source op was an update.
    */
  def noDeleteOnUpdate(expanded: DataFrame, sourceOpCol: Column): DataFrame =
    expanded.filter(!(col("op") === "delete" && sourceOpCol === "update"))

  /** Event routing: keep only events whose key appears in the registration
    * set (changelog/mysql.go:546-564). `registrations` is small (thousands
    * of rows) — broadcast left-semi join, no shuffle of the event stream.
    */
  def routeRegistered(events: DataFrame, registrations: DataFrame, key: String): DataFrame =
    events.join(broadcast(registrations), Seq(key), "left_semi")

  /** Per-group monotone sequence numbers — the reference keeps one seqno
    * counter per source cluster (/root/reference/changelog/mysql.go:52-53,
    * :394-402). Batch form: dense ordering within each group. The window
    * shuffles once on the group key and scales with #groups, unlike a
    * global row_number (single partition at 100 TB).
    */
  def assignSeqno(df: DataFrame, groupCol: String, orderCols: Seq[Column]): DataFrame =
    df.withColumn("seqno",
      row_number().over(Window.partitionBy(col(groupCol)).orderBy(orderCols: _*)))

  /** Durable streaming seqno: (epoch << 32) + rowIndexInBatch — monotone
    * across restarts because the epoch id is checkpointed by Structured
    * Streaming. Mirrors the reference's save-every-N + skip-forward scheme
    * (changelog/mysql.go:394-417) without a round-trip to a state DB.
    * Callers pass `epochId + 1` and number rows from 1, so no log event
    * shares seqno 0 with the snapshot sentinel.
    */
  def epochSeqno(epochId: Long, rowIndexInBatch: Long): Long = (epochId << 32) + rowIndexInBatch

  /** [[epochSeqno]] over a row-index column. */
  def epochSeqno(epochId: Long, rowIndexInBatch: Column): Column =
    (lit(epochSeqno(epochId, 0L)) + rowIndexInBatch).as("seqno")
}
