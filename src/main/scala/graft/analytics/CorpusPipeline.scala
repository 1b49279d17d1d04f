package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Composable corpus-cleaning pipeline: the end-to-end shape of a
  * training-data preparation job — length/quality gate → language gate →
  * normalize-fingerprint dedup → deterministic sampling.
  *
  * Every stage is a DataFrame → DataFrame transformer, so the whole
  * pipeline is ONE Catalyst plan: gates push down to the scan, the dedup
  * is the only shuffle (on the fingerprint), and sampling is a narrow
  * hash filter. At 100 TB that plan reads each document exactly once.
  */
object CorpusPipeline {

  /** Keep documents within a character-length band (cheap first gate —
    * pushed to the parquet scan).
    */
  def lengthGate(min: Int, max: Int)(df: DataFrame): DataFrame =
    df.filter(length(col("text")).between(min, max))

  /** Keep documents whose predicted language is in the allow-list. */
  def langGate(langs: Set[String])(df: DataFrame): DataFrame =
    df.filter(TextOps.predictLang(col("text")).isin(langs.toSeq: _*))

  /** Deterministic 1-in-2^bits sampling by content hash — reproducible
    * across runs/engines, no RNG state, splits uniformly at any scale.
    * Keeps docs whose first md5 hex char falls in the first 16/2^bits
    * values.
    */
  def hashSample(hexChars: Seq[String])(df: DataFrame): DataFrame =
    df.filter(substring(md5(col("text")), 1, 1).isin(hexChars: _*))

  /** Sequence packing plan: assign documents (in deterministic `orderCol`
    * order) to fixed-capacity token bins — the pretraining "sample
    * packing" step that turns a cleaned corpus into training-batch
    * assignments. Greedy-by-cumulative-sum: bin = floor(tokens-before /
    * capacity), the industry-standard streaming approximation (a document
    * may straddle its bin boundary and is truncated/continued by the
    * loader — exact first-fit would need a sequential scan, which no
    * engine does at corpus scale).
    *
    * Scale: the naive form — `sum(tok).over(Window.orderBy(ord))` — is a
    * single-partition WindowExec: Spark moves EVERY row to one node for
    * an unpartitioned window, which is the one shape that cannot survive
    * 100 TB. This is instead the classic two-phase distributed prefix
    * sum: rows are sliced by a DETERMINISTIC bucket of the order key
    * (min/max-scaled, monotone in `orderCol`, so bucket order == key
    * order), cumsum runs LOCALLY within each bucket, and each bucket's
    * starting offset — a cumsum over the per-bucket totals, a table
    * bounded by the bucket count, same idiom as the counting-sort
    * percentile histogram — is broadcast back. The bucket id is a pure
    * function of the data (NOT `spark_partition_id` over a sampled range
    * partitioning, whose physical boundaries are not guaranteed
    * identical across the two plan branches that must agree), so the
    * offsets branch and the cumsum branch agree by construction and the
    * result is bit-identical to the single-partition form at any
    * parallelism. Assumes `orderCol` is numeric-castable (it is an id or
    * a timestamp in every packing pipeline); value-range bucketing skews
    * only if the key distribution is extremely clumped — for a per-epoch
    * planning job, pre-rank the keys first in that case.
    */
  def packSequences(docs: DataFrame, orderCol: Column, tokens: Column,
                    capacity: Long): DataFrame = {
    val nb = docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val base = docs
      .withColumn("_ord", orderCol)
      .withColumn("_tok", tokens.cast("long"))
    val mm = base.agg(min(col("_ord").cast("double")).as("_lo"),
      max(col("_ord").cast("double")).as("_hi"))
    // floor of a monotone map is monotone: every row of bucket b precedes
    // every row of bucket b+1 in _ord order, which is all the prefix sum
    // needs; IEEE rounding can only move a boundary row between adjacent
    // buckets, identically in both branches
    val bucketed = base.crossJoin(broadcast(mm))
      .withColumn("_b", least(lit(nb - 1L), greatest(lit(0L),
        floor((col("_ord").cast("double") - col("_lo")) * nb /
          (col("_hi") - col("_lo") + 1d)))))
      .drop("_lo", "_hi")
    // bucket start offsets: cumsum of per-bucket totals, EXCLUSIVE of
    // own — bounded by the bucket count, not the corpus
    val offsets = bucketed.groupBy(col("_b")).agg(sum(col("_tok")).as("_bsum"))
      .withColumn("_start", coalesce(
        sum(col("_bsum")).over(Window.orderBy(col("_b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("_bsum")
    val local = Window.partitionBy(col("_b")).orderBy(col("_ord"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed
      .join(broadcast(offsets), "_b")
      .withColumn("_cum", sum(col("_tok")).over(local) + col("_start"))
      .withColumn("bin", ((col("_cum") - col("_tok")) / capacity).cast("long"))
      .drop("_cum", "_start", "_b", "_ord")
      .withColumnRenamed("_tok", "n_tokens")
  }

  /** The full cleaning pipeline with output stats. Stats and fingerprint
    * are computed BEFORE the dedup window so only (ids, fp, stats) — not
    * raw text — go through the single shuffle.
    */
  def clean(docs: DataFrame, minLen: Int, maxLen: Int,
            langs: Set[String]): DataFrame = {
    val gated = docs.transform(lengthGate(minLen, maxLen)).transform(langGate(langs))
      .select(col("doc_id"), col("lang"), col("source"),
        length(col("text")).cast("long").as("len_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        TextOps.fingerprint(col("text")).as("_fp"))
    val w = Window.partitionBy(col("_fp")).orderBy(col("doc_id"))
    gated.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_fp", "_rn")
  }
}
