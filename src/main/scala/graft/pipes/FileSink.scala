package graft.pipes

import java.security.{DigestInputStream, MessageDigest}
import java.util.zip.GZIPInputStream

import scala.reflect.ClassTag

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.HadoopConf

/** File/HDFS/S3 sink with the reference's integrity protocol.
  *
  * Reference behavior (/root/reference/pipe/file.go):
  *  - size-based rotation (:598-602)            → `maxRecordsPerFile`
  *  - `.open` → rename commit protocol (:545-572) → Spark task-commit
  *    temp-file protocol (free)
  *  - gzip compression chain (:494-497)          → codec option
  *  - SHA-256 per file + `_DONE` manifest
  *    `[{"NumRecs":N,"Hash":"…","FileName":"…"}]` on close (:717-760)
  *    → distributed post-commit manifest pass below
  *
  * The reference computes hashes inline in the write path
  * (pipe/file.go:717-760); here the equivalent is a TASK-side pass — the
  * driver lists file names (a metadata op) and executors stream-hash the
  * files in parallel via the Hadoop FileSystem API (works for file://,
  * hdfs:// and s3a:// uniformly). The names are sliced straight into
  * tasks ([[mapFileTasks]]), so the manifest is one narrow job with no
  * shuffle. At 1 GB × thousands of files this is a parallel map, not
  * hours of single-threaded driver I/O.
  *
  * Encrypt+sign (:384-437) is the same post-commit pass over the same
  * per-file tasks — [[CryptoStage.encryptDirPgp]] (real RFC 4880 wire
  * format, [[Pgp]]) or [[CryptoStage.encryptDir]] (JCA hybrid envelope
  * with signatures).
  */
object FileSink {

  /** Write a DataFrame as JSON-lines (the CF wire format is a string
    * column) or parquet, then write the `_DONE` manifest. Returns the
    * manifest entries.
    */
  def write(df: DataFrame, path: String, format: String = "json",
            maxRecordsPerFile: Long = 0, gzip: Boolean = false): Seq[Manifest] = {
    var w = df.write.mode("overwrite").format(format)
    if (maxRecordsPerFile > 0) w = w.option("maxRecordsPerFile", maxRecordsPerFile)
    if (gzip && format != "parquet") w = w.option("compression", "gzip")
    w.save(path)
    writeDoneManifest(df.sparkSession, path, format)
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
    val hash = md.digest().map("%02x".format(_)).mkString
    Manifest(name, if (countRecs) recs else -1L, hash)
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

  /** SHA-256 each data file in executor tasks (one narrow job) and write
    * `<dir>/_DONE` (end-of-stream marker, K6). NumRecs counts records for
    * line formats; -1 for binary formats (hash still guards integrity).
    */
  def writeDoneManifest(spark: SparkSession, path: String, format: String): Seq[Manifest] = {
    val dir = new HPath(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val countRecs = isLineFormat(format)
    val sorted = mapFileTasks(spark, path, dataFiles(fs, dir))(hashOne(_, _, countRecs))
      .sortBy(_.fileName)
    val json = sorted.map(m =>
      s"""{"NumRecs":${m.numRecs},"Hash":"${m.hash}","FileName":"${m.fileName}"}""")
      .mkString("[", ",", "]")
    val out = fs.create(new HPath(dir, "_DONE"), true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    sorted
  }
}
