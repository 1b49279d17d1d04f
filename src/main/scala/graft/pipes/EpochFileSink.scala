package graft.pipes

import java.io.IOException
import java.security.MessageDigest
import java.util
import java.util.{HexFormat, UUID}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, PhysicalWriteInfo,
  RequiresDistributionAndOrdering, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.changelog.Changelog
import graft.core.HadoopConf

/** Streaming Common Format file sink: one CF-JSON file and one `_DONE` per
  * epoch, `<dir>/epoch=N/part-00000-c000.json`, written by a DataSource-V2
  * streaming write, so each micro-batch is one plan that Structured
  * Streaming plans once (no second query inside the batch).
  *
  * Input rows carry the sort columns and each CF record split around its
  * SeqNo digits ([[graft.encode.CommonFormatJson.Split]]) in the columns
  * [[Head]] and [[Tail]]. The write asks for a local sort on the sort
  * columns and no distribution; the epoch must arrive as ONE partition
  * (callers `coalesce(1)`: a binlog is one ordered stream per cluster), and
  * a writer for any other partition fails the epoch, so seqnos never
  * collide. The writer numbers rows as they arrive, seqno
  * `Changelog.epochSeqno(epochId + 1, i)` for row i = 1..n, and writes each
  * as the `json` format writes a `value` string column,
  * `{"value":"<JSON-escaped CF>"}\n`, into an attempt-unique hidden `.open`
  * temp, SHA-256-ing and counting the bytes as it writes them (reference
  * pipe/file.go:545-572: write `.open`, rename on close).
  *
  * `commit(epochId)` on the driver clears what an earlier run of the same
  * epoch left in its directory (its `_DONE` first, then its file, stale data
  * files and dead attempts' temps), renames the temp to the fixed name and
  * writes `_DONE` with [[FileSink.writeDone]]: a replayed epoch ends with
  * the same directory, so the commit is idempotent on the epoch id.
  *
  * Spark instantiates the provider by class name, so [[start]] registers
  * the query's target (sort columns, Hadoop conf, per-epoch entries) and
  * names it in the query's options, as [[ManifestFormat]] does for a batch
  * write; [[Run.await]] returns the entries and drops the target.
  */
object EpochFileSink {
  val Head = "_cf_head"
  val Tail = "_cf_tail"
  val FileName = "part-00000-c000.json"

  private val TargetOption = "graft.epochsink.target"
  private val targets = new ConcurrentHashMap[String, Target]()

  private[pipes] final case class Target(spark: SparkSession, sortCols: Seq[String],
      conf: Seq[(String, String)], epochs: ConcurrentHashMap[Long, Seq[FileSink.Manifest]])

  private[pipes] def target(options: util.Map[String, String]): Target = {
    val id = new CaseInsensitiveStringMap(options).get(TargetOption)
    Option(id).flatMap(i => Option(targets.get(i))).getOrElse(
      throw new IllegalStateException("EpochFileSink writes only inside EpochFileSink.start"))
  }

  private[pipes] def epochDir(dir: String, epochId: Long): HPath = new HPath(dir, s"epoch=$epochId")

  /** A started query and its committed `_DONE` entries. */
  final class Run private[EpochFileSink] (val query: StreamingQuery, id: String, target: Target) {
    /** Wait for the query to drain, then return every epoch's entries in
      * epoch order; rethrows the query's failure.
      */
    def await(): Seq[FileSink.Manifest] =
      try {
        query.awaitTermination()
        target.epochs.asScala.toSeq.sortBy(_._1).flatMap(_._2)
      } finally targets.remove(id)

    def stop(): Unit = try query.stop() finally targets.remove(id)
  }

  /** Start `records` (the sort columns, [[Head]] and [[Tail]]) writing under
    * `dir` until the source has nothing new (`Trigger.AvailableNow`).
    */
  def start(records: DataFrame, sortCols: Seq[String], dir: String, checkpoint: String): Run = {
    val spark = records.sparkSession
    val id = UUID.randomUUID().toString
    val t = Target(spark, sortCols, HadoopConf.ship(spark), new ConcurrentHashMap())
    targets.put(id, t)
    try {
      val q = records.writeStream
        .format(classOf[EpochFileSinkProvider].getName)
        .option("path", dir)
        .option(TargetOption, id)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      new Run(q, id, t)
    } catch {
      case e: Throwable => targets.remove(id); throw e
    }
  }

  /** A task's written temp file, its record count and SHA-256. */
  private[pipes] final case class Written(temp: String, numRecs: Long, hash: String)
    extends WriterCommitMessage
}

class EpochFileSinkProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new UnsupportedOperationException("EpochFileSink only writes")
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val dir = new CaseInsensitiveStringMap(properties).get("path")
    new EpochFileTable(schema, dir, EpochFileSink.target(properties))
  }
}

private final class EpochFileTable(tableSchema: StructType, dir: String,
    target: EpochFileSink.Target) extends Table with SupportsWrite {
  override def name(): String = s"EpochFileSink($dir)"
  override def toString: String = name() // the sink's description in query progress
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.STREAMING_WRITE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder {
    override def build(): Write = new EpochFileWrite(info.schema(), dir, target)
  }
}

private final class EpochFileWrite(schema: StructType, dir: String, target: EpochFileSink.Target)
    extends RequiresDistributionAndOrdering {
  override def requiredDistribution(): Distribution = Distributions.unspecified()
  override def requiredOrdering(): Array[SortOrder] = target.sortCols.map(c =>
    Expressions.sort(Expressions.column("`" + c.replace("`", "``") + "`"), SortDirection.ASCENDING))
    .toArray
  override def description(): String = s"EpochFileSink($dir)"
  override def toStreaming(): StreamingWrite = new EpochFileStreamingWrite(
    dir, target, schema.fieldIndex(EpochFileSink.Head), schema.fieldIndex(EpochFileSink.Tail))
}

private final class EpochFileStreamingWrite(dir: String, target: EpochFileSink.Target,
    head: Int, tail: Int) extends StreamingWrite {
  import EpochFileSink._

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new EpochFileWriterFactory(dir, target.conf, head, tail)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val written = messages.toSeq.map(_.asInstanceOf[Written])
    if (written.size != 1)
      throw new IllegalStateException(s"epoch $epochId committed ${written.size} files, want 1")
    val w = written.head
    val temp = new HPath(w.temp)
    val out = epochDir(dir, epochId)
    val fs = out.getFileSystem(target.spark.sparkContext.hadoopConfiguration)
    // anything else here is an earlier run's: its `_DONE` goes first, then
    // its file, stale data files and dead attempts' temps
    fs.listStatus(out).map(_.getPath).filter(_.getName != temp.getName)
      .sortBy(_.getName != "_DONE").foreach(fs.delete(_, true))
    val file = new HPath(out, FileName)
    if (!fs.rename(temp, file)) throw new IOException(s"cannot rename $temp to $file")
    target.epochs.put(epochId,
      FileSink.writeDone(fs, out, Seq(FileSink.Manifest(FileName, w.numRecs, w.hash))))
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val fs = epochDir(dir, epochId).getFileSystem(target.spark.sparkContext.hadoopConfiguration)
    messages.collect { case w: Written => fs.delete(new HPath(w.temp), false) }
  }
}

private final class EpochFileWriterFactory(dir: String, conf: Seq[(String, String)],
    head: Int, tail: Int) extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] = {
    if (partitionId != 0) throw new IllegalStateException(
      s"EpochFileSink numbers one ordered task per epoch; epoch $epochId has a partition $partitionId")
    val out = EpochFileSink.epochDir(dir, epochId)
    val fs = out.getFileSystem(HadoopConf.rebuild(conf))
    new EpochFileWriter(fs, new HPath(out, s".part-00000-$taskId-${UUID.randomUUID()}.open"),
      epochId + 1, head, tail)
  }
}

/** Writes, digests and counts one epoch's lines; row i (from 1) gets
  * seqno `Changelog.epochSeqno(epoch, i)`.
  */
private final class EpochFileWriter(fs: FileSystem, temp: HPath, epoch: Long,
    head: Int, tail: Int) extends DataWriter[InternalRow] {
  private val Hex = "0123456789ABCDEF".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  private val out = fs.create(temp, false)
  private val md = MessageDigest.getInstance("SHA-256")
  private var buf = new Array[Byte](1 << 12)
  private var len = 0
  private var rows = 0L
  private var open = true

  override def write(row: InternalRow): Unit = {
    rows += 1
    len = 0
    ascii("{\"value\":\"")
    escaped(row.getUTF8String(head))
    ascii(java.lang.Long.toString(Changelog.epochSeqno(epoch, rows)))
    escaped(row.getUTF8String(tail))
    ascii("\"}\n")
    md.update(buf, 0, len)
    out.write(buf, 0, len)
  }

  override def commit(): WriterCommitMessage = {
    closeOut()
    EpochFileSink.Written(temp.toString, rows, HexFormat.of().formatHex(md.digest()))
  }

  override def abort(): Unit = try closeOut() finally fs.delete(temp, false)

  override def close(): Unit = closeOut()

  private def closeOut(): Unit = if (open) { open = false; out.close() }

  private def reserve(n: Int): Unit =
    if (len + n > buf.length) buf = util.Arrays.copyOf(buf, math.max(buf.length * 2, len + n))

  private def ascii(s: String): Unit = {
    reserve(s.length)
    var i = 0
    while (i < s.length) { buf(len) = s.charAt(i).toByte; len += 1; i += 1 }
  }

  /** The UTF-8 bytes of `s` as Jackson writes them inside a JSON string:
    * quote and backslash escaped, control characters as `\b \t \n \f \r`
    * or `\u00XX`, everything else (non-ASCII included) as is.
    */
  private def escaped(s: UTF8String): Unit = {
    val n = s.numBytes()
    reserve(6 * n)
    val base = s.getBaseObject
    val off = s.getBaseOffset
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      if (b < 0 || (b >= 0x20 && b != '"' && b != '\\')) { buf(len) = b; len += 1 }
      else {
        buf(len) = '\\'.toByte
        val short = b.toInt match {
          case 0x22 => '"'; case 0x5c => '\\'; case 0x08 => 'b'; case 0x09 => 't'
          case 0x0a => 'n'; case 0x0c => 'f'; case 0x0d => 'r'; case _ => 'u'
        }
        buf(len + 1) = short.toByte
        if (short != 'u') len += 2
        else {
          buf(len + 2) = '0'.toByte; buf(len + 3) = '0'.toByte
          buf(len + 4) = Hex(b >> 4); buf(len + 5) = Hex(b & 0xf)
          len += 6
        }
      }
      i += 1
    }
  }
}
