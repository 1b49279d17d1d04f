package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names (dev loop)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // A lint rejection must be a LOUD verify-time failure, not a soft skip:
    // if outDir is reused (dev loops re-pointing at the same dir), a
    // previously written parquet for a rejected query would otherwise
    // survive and still reach the driver gate. So (a) the stale artifact is
    // deleted BEFORE the query runs — a failed query can never be
    // represented by an old result — and (b) lint violations are collected
    // and fail the whole run with a nonzero exit.
    val lintFailures = scala.collection.mutable.ArrayBuffer[String]()
    val ran = scala.collection.mutable.ArrayBuffer[String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val target = Paths.get(s"$outDir/$name")
      // Stale-artifact deletion failures fail THIS query, not the whole
      // run (r17 ADVICE: an unguarded walk here aborted every later query
      // on one held file handle) — but they must fail it LOUDLY through
      // the lint channel: a query recorded as merely "failed" while its
      // old parquet survives would let the stale result reach the driver
      // gate posing as fresh. The walk stream is closed explicitly.
      val staleDeleted =
        try {
          if (Files.exists(target)) {
            import scala.jdk.CollectionConverters._
            val walk = Files.walk(target)
            try walk.iterator().asScala.toSeq.reverse
              .foreach(p => Files.deleteIfExists(p))
            finally walk.close()
          }
          true
        } catch {
          case e: Throwable =>
            lintFailures += name
            System.err.println(
              s"[verify] $name STALE OUTPUT NOT DELETABLE (${e.getMessage}) — query skipped, run will exit nonzero")
            false
        }
      if (staleDeleted) try {
        val df = fn(spark, sfDir)
        // reject unproven gated-output types BEFORE the parquet lands —
        // the one class of defect (r15: raw DECIMAL) that passes every
        // local gate and still fails the driver's canonicalization
        graft.core.OutputTypeLint.check(name, df.schema)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        ran += name
      }
      catch {
        case e: graft.core.OutputTypeLint.Violation =>
          lintFailures += name
          System.err.println(s"[verify] $name LINT REJECTED: ${e.getMessage}")
        case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // unload dead state-store providers between queries (same churn
      // Bench.onceClean guards against — see its comment), and release
      // any per-query persisted intermediates (e.g. dsirSelect's
      // DISK_ONLY gram stream) so repeated runs don't accumulate dead
      // cached blocks on executor disk
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      graft.core.CacheRegistry.releaseAll()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // data-dependent oracles are looked up by the dir their query ran on:
    // a query that produced output but has no oracle for sfDir would
    // otherwise just drop out of the DuckDB check
    val oracles = SparkEntry.oracleSql(sfDir)
    ran.filterNot(oracles.contains).foreach { name =>
      lintFailures += name
      System.err.println(s"[verify] $name NO ORACLE for $sfDir — run will exit nonzero")
    }
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (lintFailures.nonEmpty) {
      System.err.println(
        s"[verify] LINT FAILED for ${lintFailures.size} queries: ${lintFailures.sorted.mkString(", ")}")
      sys.exit(2)
    }
  }
}
