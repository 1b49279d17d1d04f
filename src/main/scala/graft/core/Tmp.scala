package graft.core

import java.nio.file.{Files, Path}
import java.util.Comparator

/** Tiny local-filesystem helpers for scratch dirs the engine creates
  * itself (streaming checkpoints, per-invocation RDD checkpoint scopes).
  * Driver-side only — data paths always go through the Hadoop FS API.
  */
object Tmp {

  /** Root for DELETE-AFTER-RUN scratch (bounded-replay streaming
    * checkpoints, per-invocation fixture output): prefers a RAM-backed
    * filesystem when one is mounted, falling back to `java.io.tmpdir`.
    *
    * Rationale: these checkpoints exist only for the duration of one
    * bounded replay and are deleted when it terminates, so crash
    * durability buys nothing — but the streaming engine still fsyncs its
    * offset/commit WAL every micro-batch (~90 ms/batch measured on ext4
    * vs ~20 ms on tmpfs). Production jobs that need a durable restartable
    * checkpoint pass their own `checkpointLocation` on HDFS/S3 and never
    * go through this helper.
    */
  lazy val scratchRoot: String = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) {
      val d = new java.io.File(shm, "graft-scratch")
      if (d.isDirectory || d.mkdirs()) d.getAbsolutePath
      else System.getProperty("java.io.tmpdir")
    } else System.getProperty("java.io.tmpdir")
  }

  /** A source dir as one path-safe token for fixture paths: every
    * character outside `[a-zA-Z0-9]` becomes `_`.
    */
  def dirKey(dir: String): String = dir.replaceAll("[^a-zA-Z0-9]", "_")

  /** Fresh scratch dir under [[scratchRoot]] (same contract as
    * `Files.createTempDirectory`, caller deletes).
    */
  def scratchDir(prefix: String): Path =
    Files.createTempDirectory(java.nio.file.Paths.get(scratchRoot), prefix)

  /** Best-effort recursive delete; never throws (cleanup must not mask
    * the computation's own result or error).
    */
  def deleteRecursively(p: Path): Unit =
    try {
      if (Files.exists(p)) {
        val walk = Files.walk(p)
        try walk.sorted(Comparator.reverseOrder[Path]())
          .forEach(f => { Files.deleteIfExists(f); () })
        finally walk.close()
      }
    } catch { case _: java.io.IOException => () }
}
