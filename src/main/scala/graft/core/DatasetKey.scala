package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileStatus, FileSystem, Path}

/** Cheap content key for a dataset path, read through the Hadoop
  * `FileSystem` its scheme resolves to (file://, hdfs://, s3a://, ...):
  * the path plus a short hash of every file's (relative path, size,
  * mtime) PLUS a 4 KB head and 4 KB tail content sample per file. The
  * sample closes the two listing-only gaps: a same-size rewrite landing
  * within the filesystem's mtime granularity (1 ms locally, 1 s on some
  * filesystems) and a fixture whose metadata is stable by construction —
  * either would otherwise serve a stale memoized model/fixture (the
  * classic stale-model hazard: a bench JVM outliving a dataset refresh).
  * Head+tail is positioned reads only, independent of file size, and for
  * the formats fixtures use it is discriminating: parquet carries its
  * footer metadata at the tail, logs/CSV change at the tail by
  * construction. A directory's files are listed recursively and hashed in
  * path order; a single FILE path is keyed the same way. Only a path that
  * does not exist falls back to the raw string.
  *
  * `conf` resolves the path's FileSystem; it defaults to the active
  * session's Hadoop configuration ([[HadoopConf.active]]).
  */
object DatasetKey {

  private val SampleBytes = 4096

  def of(dir: String, conf: Configuration = HadoopConf.active()): String = {
    val root = new Path(dir)
    // a local checksummed FS would verify samples against .crc files a
    // non-Hadoop writer leaves stale; the key reads the raw bytes
    val fs = root.getFileSystem(conf) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case f => f
    }
    val top =
      try fs.getFileStatus(root)
      catch { case _: java.io.FileNotFoundException => return dir }
    val rootPath = top.getPath.toString
    val md = java.security.MessageDigest.getInstance("MD5")
    def hashFile(st: FileStatus): Unit = {
      md.update(
        s"${st.getPath.toString.stripPrefix(rootPath)}|${st.getLen}|${st.getModificationTime}\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      sample(fs, st, md)
    }
    // plain listStatus, not listFiles: its LocatedFileStatus copies each
    // file's permissions, which Hadoop's local FS loads by running `ls`
    // in a child process per file (and cannot for a local FS mounted
    // under another scheme)
    def files(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(files) else Seq(st)
    files(top).sortBy(_.getPath.toString).foreach(hashFile)
    dir + "@" + md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** First and last [[SampleBytes]] of the file — two positioned reads,
    * cost independent of file size.
    */
  private def sample(fs: FileSystem, st: FileStatus, md: java.security.MessageDigest): Unit = {
    val len = st.getLen
    if (len <= 0) return
    // The whole read is best-effort: a file deleted OR truncated between
    // the listing and readFully (the raced-rewrite scenario the sampling
    // exists to catch) degrades to a metadata-only key instead of
    // crashing the memo path. EOFException extends IOException.
    try {
      val in = fs.open(st.getPath)
      try {
        val head = new Array[Byte](math.min(len, SampleBytes.toLong).toInt)
        in.readFully(0L, head)
        md.update(head)
        if (len > SampleBytes) {
          val tail = new Array[Byte](math.min(len - SampleBytes, SampleBytes.toLong).toInt)
          in.readFully(len - tail.length, tail)
          md.update(tail)
        }
      } finally in.close()
    } catch { case _: java.io.IOException => () }
  }

  /** Just the hex hash — for identifiers (catalog table names) where the
    * raw path can't appear. Returns "nodir" for nonexistent paths.
    */
  def hashOf(dir: String, conf: Configuration = HadoopConf.active()): String = {
    val k = of(dir, conf)
    if (k == dir) "nodir" else k.substring(dir.length + 1)
  }
}
