package graft.encode

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType, StructType, BinaryType, TimestampType, TimestampNTZType}

/** Common Format JSON encoder — byte-parity with the reference wire format.
  *
  * Golden shapes (/root/reference/main_test.go:56-61, :96-99,
  * doc/commonformat.md):
  *   insert: {"Type":"insert","Key":[1],"SeqNo":5,"Timestamp":0,
  *            "Fields":[{"Name":"f1","Value":1},{"Name":"f4","Value":null},
  *                      {"Name":"f2","Value":"bbb1"}]}
  *   delete: {"Type":"delete","Key":[1],"SeqNo":6,"Timestamp":0}   (no Fields)
  *   schema: {"Type":"schema","Key":["f1"],"SeqNo":1,"Timestamp":0,
  *            "Fields":[{"Name":"f1","Value":"bigint"},…]}         (:136)
  *
  * Values are TYPED JSON: numbers/booleans bare, strings quoted+escaped,
  * NULL → null, binary → base64 string (encoder/json.go:170-175). Because
  * the Fields array is heterogeneous, the encoder builds the JSON with
  * `concat` expressions (whole-stage-codegen'd string ops) rather than
  * `to_json` over a homogeneous struct.
  */
object CommonFormatJson {

  /** JSON-escape a string column (quote, backslash, control chars — the
    * common subset; Go's json.Marshal also escapes <,>,& which MySQL
    * identifiers/values in these pipelines don't contain).
    */
  private def jsonEscape(c: Column): Column = {
    val esc = regexp_replace(
      regexp_replace(c, "\\\\", "\\\\\\\\"), // backslash first
      "\"", "\\\\\"")
    regexp_replace(esc, "\n", "\\\\n")
  }

  /** Render one value as typed JSON. */
  def jsonValue(c: Column, dt: DataType): Column = {
    val rendered = dt match {
      case StringType => concat(lit("\""), jsonEscape(c), lit("\""))
      case BinaryType => concat(lit("\""), base64(c), lit("\"")) // encoder/json.go:170-175
      case TimestampType | TimestampNTZType =>
        // RFC3339Nano like Go's json.Marshal(time.Time): fractional seconds
        // rendered without trailing zeros, omitted entirely when zero
        // (encoder/json.go:176-200 keeps time.Time values; Go marshals them
        // as RFC3339Nano)
        val full = date_format(c, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        val trimmed = regexp_replace(regexp_replace(full, "0+$", ""), "\\.$", "")
        concat(lit("\""), trimmed, lit("Z\""))
      case _: org.apache.spark.sql.types.DecimalType =>
        // reference parity: decimals hit the wire as float64
        // (util/util.go:234) — the internal plan carries the exact
        // DecimalType and the loss happens HERE, at the encoder edge only
        c.cast("double").cast("string")
      case org.apache.spark.sql.types.BooleanType | _: org.apache.spark.sql.types.NumericType =>
        c.cast("string")
      case _ => concat(lit("\""), jsonEscape(c.cast("string")), lit("\""))
    }
    when(c.isNull, lit("null")).otherwise(rendered)
  }

  /** One CF field: {"Name":"f1","Value":<typed>}. */
  def field(name: String, value: Column, dt: DataType): Column =
    concat(lit(s"""{"Name":"$name","Value":"""), jsonValue(value, dt), lit("}"))

  private def keyArray(key: Seq[(Column, DataType)]): Column = {
    val parts = key.zipWithIndex.flatMap { case ((c, dt), i) =>
      (if (i == 0) Seq.empty else Seq(lit(","))) :+ jsonValue(c, dt)
    }
    concat((lit("[") +: parts) :+ lit("]"): _*)
  }

  /** An event split around its SeqNo digits: `head` is the text up to and
    * including `"SeqNo":`, `tail` the text after the digits. Every event
    * form below is `head + seqNo + tail`, so a writer that numbers rows as
    * it writes them ([[graft.pipes.EpochFileSink]]) puts out the same bytes.
    */
  final case class Split(head: Column, tail: Column) {
    def withSeqNo(seqNo: Column): Column = concat(head, seqNo.cast("string"), tail)
  }

  private def insertSplit(key: Seq[(Column, DataType)], timestamp: Column,
                          fields: Seq[(String, Column, DataType)]): Split = {
    val fieldParts = fields.zipWithIndex.flatMap { case ((n, c, dt), i) =>
      (if (i == 0) Seq.empty else Seq(lit(","))) :+ field(n, c, dt)
    }
    Split(concat(lit("""{"Type":"insert","Key":"""), keyArray(key), lit(""","SeqNo":""")),
      concat(Seq(lit(""","Timestamp":"""), timestamp.cast("string"),
        lit(""","Fields":[""")) ++ fieldParts :+ lit("]}"): _*))
  }

  private def deleteSplit(key: Seq[(Column, DataType)], timestamp: Column): Split =
    Split(concat(lit("""{"Type":"delete","Key":"""), keyArray(key), lit(""","SeqNo":""")),
      concat(lit(""","Timestamp":"""), timestamp.cast("string"), lit("}")))

  /** Insert (or schema-ish) event with Fields payload. */
  def insertJson(key: Seq[(Column, DataType)], seqNo: Column, timestamp: Column,
                 fields: Seq[(String, Column, DataType)]): Column =
    insertSplit(key, timestamp, fields).withSeqNo(seqNo)

  /** Delete event: key + metadata only, NO Fields (main_test.go:96). */
  def deleteJson(key: Seq[(Column, DataType)], seqNo: Column, timestamp: Column): Column =
    deleteSplit(key, timestamp).withSeqNo(seqNo)

  /** op-dispatched event, split around its SeqNo digits. */
  def eventSplit(op: Column, key: Seq[(Column, DataType)], timestamp: Column,
                 fields: Seq[(String, Column, DataType)]): Split = {
    val (d, i) = (deleteSplit(key, timestamp), insertSplit(key, timestamp, fields))
    val isDelete = op === "delete"
    Split(when(isDelete, d.head).otherwise(i.head), when(isDelete, d.tail).otherwise(i.tail))
  }

  /** op-dispatched event (insert/update already expanded upstream). */
  def eventJson(op: Column, key: Seq[(Column, DataType)], seqNo: Column,
                timestamp: Column, fields: Seq[(String, Column, DataType)]): Column =
    eventSplit(op, key, timestamp, fields).withSeqNo(seqNo)

  /** Schema event (encoder_test.go:136 outJSONSchema shape): Key = PK
    * column NAMES, Fields = column name → source (MySQL) type string.
    * Static per schema version — a plain String.
    */
  def schemaEventJson(pkNames: Seq[String], seqNo: Long, timestamp: Long,
                      columns: Seq[(String, String)]): String = {
    val key = pkNames.map(n => s""""$n"""").mkString("[", ",", "]")
    val fields = columns.map { case (n, t) =>
      s"""{"Name":"$n","Value":"$t"}"""
    }.mkString("[", ",", "]")
    s"""{"Type":"schema","Key":$key,"SeqNo":$seqNo,"Timestamp":$timestamp,"Fields":$fields}"""
  }

  /** Convenience: encode a DataFrame's payload columns using their schema
    * types. Expects `op`, `seqno` columns plus the payload/pk columns.
    */
  def encodeRows(df: DataFrame, pkCols: Seq[String], payloadCols: Seq[String]): Column =
    encodeSplit(df, pkCols, payloadCols).withSeqNo(col("seqno"))

  /** [[encodeRows]] without the seqno: expects an `op` column plus the
    * payload/pk columns, and leaves the SeqNo digits to the writer.
    */
  def encodeSplit(df: DataFrame, pkCols: Seq[String], payloadCols: Seq[String]): Split = {
    val schema: StructType = df.schema
    def dt(n: String) = schema(n).dataType
    eventSplit(col("op"), pkCols.map(n => col(n) -> dt(n)), lit(0L),
      payloadCols.map(n => (n, col(n), dt(n))))
  }
}
