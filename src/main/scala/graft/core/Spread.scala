package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join, LogicalPlan, Project, ResolvedHint}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Pre-fan-out repartitioning.
  *
  * An `explode` that multiplies row count 100-1000× (shingling,
  * tokenization, per-plane expansion) must be spread BEFORE the fan-out:
  * the input is small (so AQE happily coalesces it to one partition) but
  * the output work is large. `repartition(col)` alone is AQE-optimizable
  * and collapses right back to a single partition for kilobyte inputs —
  * the explicit partition count pins it.
  *
  * The pinned width is max(cores, session shuffle width), NOT the core
  * count alone: the r15 sf100 probe caught the 32-pinned form starving
  * the heap at 1000× — every downstream stage whose distribution the
  * repartition already satisfies (the shingle-set aggregation) inherits
  * the pinned width, so 5M docs' set buffers landed on 32 tasks and
  * OOM'd an 8 GB heap REGARDLESS of spark.sql.shuffle.partitions
  * (SCALE.md, r15 cliff 3). Taking the session shuffle width as the
  * floor restores the operator's knob: at 100 TB the width scales with
  * the configured shuffle width, while small-fixture plans (where both
  * values are the core count) are unchanged.
  *
  * Trade-off (documented, accepted): the width is read at
  * DataFrame-CONSTRUCTION time from the session conf, and EVERY Spread
  * call site in the session inherits it — raising
  * spark.sql.shuffle.partitions for one large query also widens tiny
  * fan-outs built while it is set. Scope large shuffle-width settings to
  * the scale run rather than setting them session-globally; the cost is
  * only extra small tasks, never correctness.
  *
  * An input that is ALREADY wide is left alone: when the partitions of
  * `df` are those of a file scan with at least `width` splits, the
  * fan-out runs on every core as it is, and a repartition would only ship
  * the raw rows through a shuffle (the whole corpus, at 100 TB).
  * Single-file inputs (one split) and every other plan shape spread.
  */
object Spread {
  def byKey(df: DataFrame, keys: Column*): DataFrame = {
    val spark = df.sparkSession
    val width = math.max(spark.sparkContext.defaultParallelism,
      spark.sessionState.conf.numShufflePartitions)
    if (scanSplits(spark, df.queryExecution.analyzed).exists(_ >= width)) df
    else df.repartition(width, keys: _*)
  }

  /** Split count of the file relation whose partitions `plan` keeps one
    * for one — through projections and the streamed side of an inner
    * broadcast join. The walk is over the analyzed plan, and only the
    * relation's own scan is planned, so nothing above it is optimized
    * twice; the count is read off that planned scan's RDD: no job.
    */
  private def scanSplits(spark: SparkSession, plan: LogicalPlan): Option[Int] = plan match {
    case p: Project => scanSplits(spark, p.child)
    case Join(left, ResolvedHint(_, hint), Inner, _, _)
        if hint.strategy.contains(BROADCAST) => scanSplits(spark, left)
    case LogicalRelation(fs: HadoopFsRelation, _, _, false, _) =>
      spark.baseRelationToDataFrame(fs).queryExecution.sparkPlan.collectFirst {
        case s: FileSourceScanExec => s.inputRDD.getNumPartitions
      }
    case _ => None
  }
}
