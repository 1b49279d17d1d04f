package graft.tools

/** Regenerates PLANS.md: the formatted physical plan of a representative
  * query per scale claim, so a reviewer can read the shapes (pushdown,
  * broadcast, partial aggregation, exchange-free loop rounds) without
  * running anything. Run after plan-affecting changes:
  * `sbt "runMain graft.tools.PlansDump"`.
  */
object PlansDump {

  private val picks: Seq[(String, String)] = Seq(
    "q_snapshot_scan" ->
      "Filter pushdown + column pruning: predicates reach the parquet scan (PushedFilters) and ReadSchema names only referenced columns.",
    "q3_join_topk" ->
      "Dim joins broadcast (no shuffle on the fact side); the top-k is a WindowGroupLimit rewritten into map-side partial top-k.",
    "q1_agg" ->
      "Canonical aggregate: map-side partial_sum/HashAggregate before the single keyed exchange.",
    "q_percentiles" ->
      "Exact percentiles as a DISTRIBUTED counting sort: the only shuffles are the bounded-domain histogram and its per-flag cumulative window — no percentile() value buffer anywhere.",
    "q_heavy_hitters" ->
      "Count-Min heavy hitters: the counter build shuffles at most d*w sketch cells per map task, never the vocabulary.",
    "q_ivf_probe" ->
      "ANN with a materialized cell-partitioned index: the probed-cell isin filter partition-prunes the index scan; only the probe set broadcasts.",
    "q_dedup_minhash" ->
      "Native codegen MinHash (no UDFs): signatures computed inside WholeStageCodegen straight off the scan.",
    "q_mix_weights" ->
      "Mixture weights: corpus reduced map-side to |sources| rows, then scalar integer arithmetic against a broadcast one-row total (the BroadcastNestedLoopJoin is that scalar attach).",
    "q_incr_mv" ->
      "Incremental MV maintenance: one keyed window (the partitioning a changelog topic already has) computes retract/add deltas, then a partial-aggregated MV-group fold — per-batch cost scales with the delta, not the table.",
    "q_weighted_sample" ->
      "Weighted sampling: bounded replica explode max-combines map-side to one row per doc before any shuffle; the global top-k is TakeOrderedAndProject (per-partition heads, no full sort).",
    "q_version_diff" ->
      "Lake incremental read: both version scans carry the changed-bucket predicate in PartitionFilters — the key-level diff never opens a fingerprint-identical partition, so diff cost tracks the delta, not the table.",
    "q_dsir_select" ->
      "DSIR importance resampling: the 4096-row bucket-ratio table broadcasts back onto the hashed gram stream; per-doc weights partial-aggregate to one row per document before their shuffle, and the top-1/8 cut is TakeOrderedAndProject — no global sort.",
    "q_kmv_distinct" ->
      "KMV distinct sketch: the bottom-k cap plans as WindowGroupLimit with a PARTIAL stage below the group exchange (each task ships at most k=256 hashes per group), the distinct pre-pass map-side combines to the hash domain, the (k-1)*2^60 decimal estimator numerator constant-folds, and the 3-row exact anchor broadcasts back.",
    "q_ngram_jaccard" ->
      "Exact set-similarity verify: each candidate doc's shingle set is built SORTED and distinct once, per row, by the shingleset kernel in a Project (no aggregate) and with no pin; a repartition on doc_id after the kernel is the one exchange both pair joins read (the plan below is the one before execution, where that exchange still appears twice; the adaptive run reads the second as a ReusedExchange); the per-pair |A∩B| is the codegen'd O(|a|+|b|) two-pointer merge graft_sorted_intersect_count, not an array_intersect hash-set rebuild per candidate pair.",
    "q_optimal_segment" ->
      "Segmentation DP distributed by domain bounding: the bitmask fold (bit_or) and both walk HOFs run on the DISTINCT-WORD aggregate, the word->counts lookup joins back as a BroadcastHashJoin, and the corpus-side plan is exactly two scans (word counts out, doc reassembly back) — the DP itself never appears in a corpus-sized stage.")

  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val s = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("graft-plans")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# PLANS — representative physical plans per scale claim\n\n")
    sb.append("Generated by `tools.PlansDump` (sf0.01, local[4]; shapes are\n")
    sb.append("identical at scale, only partition counts differ). Each section:\n")
    sb.append("the claim, then the plan as Catalyst produced it.\n")
    picks.foreach { case (name, claim) =>
      val df = graft.SparkEntry.queries(name)(s, sf)
      val p = df.queryExecution.executedPlan.toString
      sb.append(s"\n## $name\n\n$claim\n\n```\n")
      // cached-plan internals repeat Initial/Final blocks — keep the live plan readable
      sb.append(p.linesIterator.take(60).mkString("\n"))
      sb.append("\n```\n")
    }
    java.nio.file.Files.write(java.nio.file.Paths.get("PLANS.md"),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"wrote PLANS.md (${picks.size} plans)")
    s.stop()
  }
}
