package graft.pipes

import java.nio.charset.StandardCharsets.UTF_8
import java.security.{DigestInputStream, MessageDigest}
import java.util.{HexFormat, UUID}
import java.util.concurrent.ConcurrentHashMap
import java.util.zip.GZIPInputStream

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{DataSource, DataSourceUtils, FileFormat,
  OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.v2.FileDataSourceV2
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.CollectionAccumulator

import graft.core.{HadoopConf, LocalFs}

/** File/HDFS/S3 sink with the reference's integrity protocol.
  *
  * Reference behavior (/root/reference/pipe/file.go):
  *  - size-based rotation (:598-602)            → `maxRecordsPerFile`
  *  - `.open` → rename commit protocol (:545-572) → Spark task-commit
  *    temp-file protocol (free)
  *  - gzip compression chain (:494-497)          → codec option
  *  - SHA-256 per file + `_DONE` manifest
  *    `[{"NumRecs":N,"Hash":"…","FileName":"…"}]` on close (:717-760)
  *    → each write task digests its files as their writers close
  *
  * [[write]] is one Spark job, like the reference's inline hashing: it
  * writes through [[ManifestFormat]], which wraps the requested format's
  * own writers. When a writer closes, its task SHA-256s and counts the file
  * it just produced (still in the page cache) and returns the entry in the
  * task result; the driver writes `_DONE` from the entries of the committed
  * attempts. Nothing lists the directory or reads the files a second time.
  *
  * [[writeDoneManifest]] is the standalone pass for directories that other
  * code wrote: the driver lists file names (a metadata op) and executors
  * stream-hash the files in parallel via the Hadoop FileSystem API (works
  * for file://, hdfs:// and s3a:// uniformly), names sliced straight into
  * tasks ([[mapFileTasks]]), so it is one narrow job with no shuffle. Both
  * paths digest a file with [[hashOne]] and render `_DONE` with
  * [[writeDone]], so their manifests are byte-identical. The streaming
  * [[EpochFileSink]] digests as it writes and renders its `_DONE` with
  * [[writeDone]] too.
  *
  * Encrypt+sign (:384-437) transforms the committed files, so it is its own
  * pass over [[mapFileTasks]] — [[CryptoStage.encryptDirPgp]] (real RFC 4880
  * wire format, [[Pgp]]) or [[CryptoStage.encryptDir]] (JCA hybrid envelope
  * with signatures).
  */
object FileSink {

  /** Write a DataFrame as JSON-lines (the CF wire format is a string
    * column), text, csv or parquet, and write its `_DONE` manifest from the
    * write tasks' own digests, in the one write job. Returns the manifest
    * entries, sorted by file name.
    */
  def write(df: DataFrame, path: String, format: String = "json",
            maxRecordsPerFile: Long = 0, gzip: Boolean = false): Seq[Manifest] = {
    val spark = df.sparkSession
    LocalFs.install(spark)
    var w = df.write.mode("overwrite")
    if (maxRecordsPerFile > 0) w = w.option("maxRecordsPerFile", maxRecordsPerFile)
    if (gzip && format != "parquet") w = w.option("compression", "gzip")
    val entries = ManifestFormat.save(spark, w, path, format, isLineFormat(format))
    val dir = new HPath(path)
    writeDone(dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir, entries)
  }

  final case class Manifest(fileName: String, numRecs: Long, hash: String)

  private def isLineFormat(format: String): Boolean =
    format == "json" || format == "text" || format == "csv"

  /** Stream one file: SHA-256 over the STORED bytes; NumRecs counts
    * newline-delimited records over the DECOMPRESSED stream for `.gz`
    * files (the reference records logical record counts —
    * pipe/file.go:717-760; counting compressed bytes would be noise).
    */
  private[pipes] def hashOne(fs: FileSystem, file: HPath, countRecs: Boolean): Manifest = {
    val name = file.getName
    val md = MessageDigest.getInstance("SHA-256")
    val raw = new DigestInputStream(fs.open(file), md)
    var recs = 0L
    try {
      val in = if (name.endsWith(".gz")) new GZIPInputStream(raw) else raw
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n > 0) {
        if (countRecs) {
          var i = 0
          while (i < n) { if (buf(i) == '\n') recs += 1; i += 1 }
        }
        n = in.read(buf)
      }
      // drain any raw bytes the decompressor did not consume so the digest
      // covers the full stored file
      var d = raw.read(buf)
      while (d > 0) d = raw.read(buf)
    } finally raw.close()
    Manifest(name, if (countRecs) recs else -1L, HexFormat.of().formatHex(md.digest()))
  }

  /** Names of the data files directly under `dir`: names starting with
    * `_` or `.` are markers (`_DONE`, `_SUCCESS`) and temps.
    */
  private[pipes] def dataFiles(fs: FileSystem, dir: HPath): Seq[String] =
    fs.listStatus(dir).toSeq
      .filter(_.isFile)
      .map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))

  /** Apply `f` to each named file under `path` in executor tasks and
    * collect the results: `parallelize(names, n)` slices the names into at
    * most `defaultParallelism` tasks, so the pass is one narrow job. Each
    * task rebuilds its FileSystem from the shipped Hadoop configuration
    * (`Configuration` is not serializable; shipping its entries keeps
    * s3a/hdfs credentials and settings intact).
    */
  private[pipes] def mapFileTasks[T: ClassTag](spark: SparkSession, path: String,
      names: Seq[String])(f: (FileSystem, HPath) => T): Seq[T] =
    if (names.isEmpty) Seq.empty
    else {
      val confEntries = HadoopConf.ship(spark)
      val slices = math.min(names.size, spark.sparkContext.defaultParallelism)
      spark.sparkContext.parallelize(names, slices).mapPartitions { it =>
        val dir = new HPath(path)
        val fs = dir.getFileSystem(HadoopConf.rebuild(confEntries))
        it.map(n => f(fs, new HPath(dir, n)))
      }.collect().toSeq
    }

  /** The one `_DONE` renderer (end-of-stream marker, K6): entries sorted
    * by file name, as the reference's `[{NumRecs,Hash,FileName}]` array.
    * Returns the sorted entries.
    */
  private[pipes] def writeDone(fs: FileSystem, dir: HPath, entries: Seq[Manifest]): Seq[Manifest] = {
    val sorted = entries.sortBy(_.fileName)
    val json = sorted.map(m =>
      s"""{"NumRecs":${m.numRecs},"Hash":"${m.hash}","FileName":"${m.fileName}"}""")
      .mkString("[", ",", "]")
    val out = fs.create(new HPath(dir, "_DONE"), true)
    try out.write(json.getBytes(UTF_8)) finally out.close()
    sorted
  }

  /** SHA-256 each data file already under `path` in executor tasks (one
    * narrow job) and write `<dir>/_DONE`. NumRecs counts records for line
    * formats; -1 for binary formats (hash still guards integrity).
    */
  def writeDoneManifest(spark: SparkSession, path: String, format: String): Seq[Manifest] = {
    val dir = new HPath(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val countRecs = isLineFormat(format)
    writeDone(fs, dir, mapFileTasks(spark, path, dataFiles(fs, dir))(hashOne(_, _, countRecs)))
  }
}

/** The thin [[FileFormat]] behind [[FileSink.write]]: it writes with the
  * requested format's own [[OutputWriter]]s, and each writer, when it
  * closes, digests the file it produced ([[FileSink.hashOne]]) in the same
  * task and adds the entry to the write's accumulator. Only the successful
  * attempt of a task has its accumulator update merged, and that is the
  * attempt whose files the commit protocol committed (a denied or failed
  * attempt's entries are dropped with it). Spark's commit protocol, output
  * metrics, compression and `maxRecordsPerFile` are the inner format's and
  * the writer's own.
  *
  * Spark instantiates a write format by class name, so
  * [[ManifestFormat.save]] registers the write's target (inner format,
  * accumulator) for the duration of the one `save` and names it in that
  * write's options; [[prepareWrite]] looks it up and strips the name
  * before the inner format sees the options. The options follow the write
  * command onto whatever thread runs it (AQE runs it as a query stage on a
  * pool thread, so a thread-local would not). Concurrent writes on one
  * session each name their own target; no session conf is touched.
  */
class ManifestFormat extends FileFormat {
  import ManifestFormat._

  override def inferSchema(spark: SparkSession, options: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] =
    throw new UnsupportedOperationException("ManifestFormat only writes")

  override def prepareWrite(spark: SparkSession, job: Job, options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory = {
    val t = options.get(TargetOption).flatMap(id => Option(targets.get(id))).getOrElse(
      throw new IllegalStateException("ManifestFormat writes only inside FileSink.write"))
    // the checks Spark ran against this wrapper are the inner format's
    DataSourceUtils.verifySchema(t.format, dataSchema)
    new WriterFactory(t.format.prepareWrite(spark, job, options - TargetOption, dataSchema),
      t.countRecs, t.files)
  }

  override def toString: String = "ManifestFormat"
}

object ManifestFormat {
  private final case class Target(format: FileFormat, countRecs: Boolean,
                                  files: CollectionAccumulator[FileSink.Manifest])

  private val TargetOption = "graft.manifest.target"
  private val targets = new ConcurrentHashMap[String, Target]()

  /** Save `w` to `path` in `format` through a [[ManifestFormat]] and return
    * the entries of the files the write committed (unsorted).
    */
  private[pipes] def save(spark: SparkSession, w: DataFrameWriter[Row], path: String,
      format: String, countRecs: Boolean): Seq[FileSink.Manifest] = {
    val files = spark.sparkContext.collectionAccumulator[FileSink.Manifest]
    val id = UUID.randomUUID().toString
    targets.put(id, Target(fileFormat(spark, format), countRecs, files))
    try w.format(classOf[ManifestFormat].getName).option(TargetOption, id).save(path)
    finally targets.remove(id)
    files.value.asScala.toSeq
  }

  /** The V1 [[FileFormat]] Spark itself writes `format` with: a file
    * source resolved to its V2 provider falls back to its V1 format, as
    * `DataFrameWriter.save` does.
    */
  private def fileFormat(spark: SparkSession, format: String): FileFormat =
    DataSource.lookupDataSource(format, spark.sessionState.conf)
      .getDeclaredConstructor().newInstance() match {
        case f: FileFormat => f
        case v2: FileDataSourceV2 => v2.fallbackFileFormat.getDeclaredConstructor().newInstance()
        case other => throw new IllegalArgumentException(
          s"FileSink writes file formats; $format resolves to ${other.getClass.getName}")
      }

  private final class WriterFactory(inner: OutputWriterFactory, countRecs: Boolean,
      files: CollectionAccumulator[FileSink.Manifest]) extends OutputWriterFactory {
    override def getFileExtension(context: TaskAttemptContext): String =
      inner.getFileExtension(context)

    override def newInstance(path: String, dataSchema: StructType,
        context: TaskAttemptContext): OutputWriter = {
      val file = new HPath(path)
      new DigestingWriter(inner.newInstance(path, dataSchema, context),
        file.getFileSystem(context.getConfiguration), file, countRecs, files)
    }
  }

  private final class DigestingWriter(inner: OutputWriter, fs: FileSystem, file: HPath,
      countRecs: Boolean, files: CollectionAccumulator[FileSink.Manifest]) extends OutputWriter {
    override def write(row: InternalRow): Unit = inner.write(row)
    override def path(): String = inner.path()
    override def close(): Unit = {
      inner.close()
      files.add(FileSink.hashOne(fs, file, countRecs))
    }
  }
}
