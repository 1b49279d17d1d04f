package graft.stream

import graft.changelog.{AlterSchema, Ddl}
import graft.core.Schema
import graft.core.Schema.TableSchema
import graft.encode.CommonFormatJson
import graft.state.StateStore

/** DDL propagation (O9): classify a binlog QUERY event, derive the new
  * schema, version it under the event's GTID, and emit the schema event
  * the reference pushes to JSON/MsgPack sinks (file sinks start a new file
  * on it — /root/reference/pipe/file.go:683-699; Avro pushes nothing —
  * encoder/avro.go:72-74).
  *
  * The streaming query itself restarts with the new schema: Structured
  * Streaming plans are schema-static, so the coordinator stops the query
  * at the DDL marker and relaunches from the checkpoint — the Spark
  * equivalent of the reference's refresh-codec-in-place
  * (changelog/mysql.go:566-623).
  */
object SchemaFlow {

  sealed trait Outcome
  final case class SchemaChanged(next: TableSchema, schemaEventJson: String) extends Outcome
  final case class NeedsRepull(reason: String) extends Outcome
  case object NotSchemaRelated extends Outcome
  /** Replayed DDL (its GTID is already fenced in the state store) — no-op. */
  case object AlreadyApplied extends Outcome

  /** Handle one QUERY event against the current schema. On success the new
    * version is pushed to the state store keyed by the event GTID and the
    * wire-format schema event is returned for the sink. A DDL whose GTID
    * is already recorded is a replay (an aborted micro-batch re-delivers
    * it after a restart) and returns [[AlreadyApplied]] — the reference's
    * schema_gtid compare (state/state.go:451-475).
    */
  def onQueryEvent(state: StateStore, current: TableSchema, sql: String,
                   gtid: String, seqNo: Long): Outcome =
    Ddl.classify(sql) match {
      case Ddl.AlterTable(db, table, _)
          if db.forall(_ == current.db) && table == current.table &&
            state.schemaApplied(current.db, table, gtid) =>
        AlreadyApplied
      case Ddl.AlterTable(db, table, rest)
          if db.forall(_ == current.db) && table == current.table =>
        AlterSchema.mutate(current, rest) match {
          case Right(next) =>
            state.pushSchema(next.db, next.table, gtid, Schema.toStructType(next))
            SchemaChanged(next, schemaEvent(next, seqNo))
          case Left(reason) => NeedsRepull(reason) // reference re-pulls from
          // information_schema when the ALTER can't be applied locally
        }
      case Ddl.RenameTable(db, from, _) if db.forall(_ == current.db) && from == current.table =>
        NeedsRepull("rename: schema re-pull required (changelog/mysql.go:625-683)")
      case _ => NotSchemaRelated
    }

  /** Type:"schema" CF event (encoder_test.go:136 shape). */
  def schemaEvent(ts: TableSchema, seqNo: Long): String =
    CommonFormatJson.schemaEventJson(
      ts.primaryKey.map(_.name), seqNo, 0L,
      ts.columns.sortBy(_.ordinal).map(c =>
        c.name -> (if (c.columnType.nonEmpty) c.columnType else c.dataType)))
}
