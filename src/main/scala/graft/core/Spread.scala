package graft.core

import org.apache.spark.sql.{Column, DataFrame}

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
  */
object Spread {
  def byKey(df: DataFrame, key: Column): DataFrame = {
    val spark = df.sparkSession
    val width = math.max(spark.sparkContext.defaultParallelism,
      spark.sessionState.conf.numShufflePartitions)
    df.repartition(width, key)
  }
}
