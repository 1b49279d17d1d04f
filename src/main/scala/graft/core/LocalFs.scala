package graft.core

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop's raw local file system, minus its child processes.
  *
  * Without `libhadoop` (Spark's distribution ships none), Hadoop's
  * `RawLocalFileSystem` falls back to `Shell` for two calls the write path
  * makes all the time: `setPermission` runs `chmod` in a child process
  * (every create and mkdir, twice per data file with its `.crc`), and
  * `getFileLinkStatus` runs `readlink` in one (every `FileContext` rename,
  * i.e. every streaming offset/commit log and state checkpoint file): 858
  * child processes in one 10 s `cdcbench` `onboard` run (4-vCPU Linux VM,
  * JDK 17), 848 of them `chmod` or `readlink`. This class overrides
  * exactly those two calls:
  *
  *  - `setPermission` sets the 9 permission bits with
  *    `Files.setPosixFilePermissions`, which follows a link as `chmod`
  *    does. A sticky (or setuid/setgid) mode, which that API cannot
  *    express, and a store without POSIX attributes go to `super`.
  *  - `getFileLinkStatus` asks `Files.isSymbolicLink`. A real link goes to
  *    `super`, so its status is Hadoop's own; anything else is the
  *    `getFileStatus` Hadoop would have returned after an empty `readlink`.
  *
  * Everything else is Hadoop's code, so file bytes, modes (umask applied
  * as before), rename atomicity and checksums are unchanged. The two
  * wrappers put it behind both Hadoop APIs: [[LocalFs.ForFileSystem]]
  * (`fs.file.impl`, the `FileSystem` that Spark's commit protocol and
  * [[graft.pipes.FileSink]] use) and [[LocalFs.ForFileContext]]
  * (`fs.AbstractFileSystem.file.impl`, the `FileContext` behind streaming
  * checkpoints); [[LocalFs.install]] makes them the file:// implementation.
  */
class LocalFs extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // declaration order is owner rwx, group rwx, others rwx: bits 8..0
      PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
        if ((mode & (0x100 >> i)) != 0) perms.add(perm)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch {
        case _: UnsupportedOperationException => super.setPermission(p, permission)
        case _: NoSuchFileException => throw new FileNotFoundException(s"File $p does not exist")
      }
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object LocalFs {

  /** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over [[LocalFs]]. */
  final class ForFileSystem extends LocalFileSystem(new LocalFs)

  /** `fs.AbstractFileSystem.file.impl`: Hadoop's `local.LocalFs` (a
    * `ChecksumFs` over `local.RawLocalFs`) with [[LocalFs]] as the
    * delegate. Hadoop builds it by reflection with (URI, Configuration);
    * like the stock class it always serves file:///.
    */
  final class ForFileContext(uri: URI, conf: Configuration) extends ChecksumFs(new Raw(conf))

  /** `local.RawLocalFs`, whose constructors are package-private, with the
    * same overrides.
    */
  private final class Raw(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new LocalFs, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    // like RawLocalFs: local file systems differ, the OS validates names
    override def isValidName(src: String): Boolean = true
  }

  private val FsKey = "fs.file.impl"

  /** Each key with the class-path resource that sets it to our class. */
  private val Claims = Seq(
    FsKey -> "graft/core/localfs-filesystem.xml",
    "fs.AbstractFileSystem.file.impl" -> "graft/core/localfs-filecontext.xml")

  @volatile private var installed = false

  def install(spark: SparkSession): Unit = install(spark.sparkContext.hadoopConfiguration)

  /** Make [[LocalFs]] the file:// implementation of this JVM, once; later
    * calls return at once. `conf` is the caller's live Hadoop
    * configuration (a session's), read for what its user set.
    *
    * Each key goes in as a Hadoop default resource, so every
    * `Configuration` in the JVM that loads defaults sees it, including the
    * confs Spark copies into tasks and confs of sessions this code did not
    * build; Hadoop reloads the live ones. A key the user set (in a site
    * file, a `spark.hadoop.*` conf or programmatically) is left alone:
    * only a value from `core-default.xml` counts as unset.
    *
    * `FileSystem`'s cache is JVM-wide and keyed by scheme and user, not by
    * conf, so a stock file:// instance cached before this call would keep
    * serving. When `fs.file.impl` now resolves to [[ForFileSystem]], that
    * instance is closed, which drops it from the cache: the next lookup
    * builds ours. Closing a local FS only runs its delete-on-exit list;
    * holders of the old instance can keep using it. `FileContext` has no
    * such cache and picks the new class at its next creation.
    */
  def install(conf: Configuration): Unit =
    if (!installed) synchronized {
      if (!installed) {
        claim(conf)
        installed = true
      }
    }

  /** The body of [[install]], without the once-per-JVM guard: returns the
    * keys it claimed.
    */
  private[core] def claim(conf: Configuration): Seq[String] = {
    val free = Claims.filterNot { case (key, resource) =>
      Option(conf.getPropertySources(key)).exists(_.exists(s => s != "core-default.xml" && s != resource))
    }
    free.foreach { case (_, resource) => Configuration.addDefaultResource(resource) }
    if (conf.getClass(FsKey, null) == classOf[ForFileSystem]) {
      val cached = FileSystem.get(FsConstants.LOCAL_FS_URI, conf)
      if (!cached.isInstanceOf[ForFileSystem]) cached.close()
    }
    free.map(_._1)
  }
}
