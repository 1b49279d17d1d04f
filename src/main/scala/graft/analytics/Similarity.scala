package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Scale design: the query vector is broadcast (a 1-row cross join Spark
  * plans as BroadcastNestedLoopJoin); scoring is a narrow `zip_with` +
  * `aggregate` fold inside codegen; top-k is `orderBy + limit`, which Spark
  * executes as per-partition partial top-k (TakeOrderedAndProject) — no
  * global sort, no full shuffle. The LSH path buckets vectors by
  * random-hyperplane signs so ANN probes touch one bucket instead of the
  * full corpus: the 100 TB path.
  *
  * Dot products are computed over quantized integer components
  * (round(x*1000)) — exact integer math, deterministic under any
  * aggregation order, which FP sums are not.
  */
object Similarity {

  /** Quantize a float/double array column to bigint (scale 1000). */
  def quantize(vec: Column): Column =
    transform(vec, x => round(x.cast("double") * 1000).cast("long"))

  /** Integer dot product of two quantized vectors — the native
    * [[graft.functions.QDot]] expression (one tight primitive loop per
    * pair). The composed `aggregate(zip_with(...))` form is bit-identical
    * but interpreted: it allocates a zipped array and runs two lambda
    * closures per element per PAIR, which dominates candidate-verify and
    * re-rank scans (kNN measured 4.4 s -> 1.1 s at sf0.1 on the swap).
    */
  def dotQ(a: Column, b: Column): Column = graft.functions.QDot.column(a, b)

  /** Brute-force top-k by quantized dot product against one query vector.
    * `queryVec` must be a 1-row DataFrame with column `qv` (already
    * quantized). Deterministic tie-break on id.
    */
  def bruteForceTopK(embeddings: DataFrame, id: Column, vec: Column,
                     queryVec: DataFrame, k: Int): DataFrame =
    embeddings
      .crossJoin(broadcast(queryVec))
      .select(id.as("vec_id"),
        dotQ(quantize(vec), col("qv")).as("dot"))
      .orderBy(col("dot").desc, col("vec_id"))
      .limit(k)

  /** Deterministic pseudo-random hyperplane component for (plane j, dim i):
    * +1/-1 from a fixed arithmetic pattern. Shared with the DuckDB oracle —
    * must stay in exact integer arithmetic. The bucket builders below bake
    * this formula into array-literal sign matrices (compact codegen); this
    * Column form documents the contract and serves ad-hoc use.
    */
  def hyperplane(j: Column, i: Column): Column =
    when(((i * 31 + j * 17) % 7) < 3, 1L).otherwise(-1L)

  /** Random-hyperplane LSH bucket id (numPlanes sign bits) per vector.
    * Narrow per-row computation; downstream ANN groups by `bucket` so a
    * probe only scans one bucket (and optionally neighbors at Hamming
    * distance 1 for recall).
    */
  def lshBucket(embeddings: DataFrame, idCol: String, vec: Column,
                dims: Int, numPlanes: Int): DataFrame = {
    // fully narrow: every plane's sign bit computes in the same row — no
    // per-plane explode, no shuffle at all. Sign matrix as an array
    // literal + runtime aggregate loop (compact codegen — see
    // lshBandBuckets); per-row cost is dims*numPlanes multiply-adds,
    // zero exchange at any scale.
    val signs: Column = typedLit((0 until numPlanes).map { j =>
      (1 to dims).map(i => if (((i * 31 + j * 17) % 7) < 3) 1L else -1L)
    })
    val weights: Column = typedLit((0 until numPlanes).map(j => 1L << j))
    val bucket = aggregate(
      zip_with(signs, weights, (s, w) =>
        when(aggregate(zip_with(s, col("_q"), (a, x) => a * x), lit(0L), _ + _) > 0,
          w).otherwise(0L)),
      lit(0L), _ + _)
    embeddings
      .transform(df => graft.core.Spread.byKey(df, col(idCol))) // spread single-file input
      .select(col(idCol), quantize(vec).as("_q"))
      .select(col(idCol), bucket.as("bucket"))
  }

  /** Banded random-hyperplane buckets for near-dup candidate generation:
    * `numBands` independent `planesPerBand`-bit sign signatures per vector
    * (global plane index j = band*planesPerBand + r). Two vectors are
    * candidates iff they share ANY (band, band_key) bucket — the MinHash-LSH
    * banding trade: more bands = higher recall, narrower band keys = smaller
    * buckets. Fully narrow (one wide codegen'd expression, zero exchange);
    * the only shuffle downstream is the band-key groupBy.
    */
  def lshBandBuckets(embeddings: DataFrame, idCol: String, vec: Column,
                     dims: Int, planesPerBand: Int, numBands: Int): DataFrame = {
    // Sign matrices as ARRAY LITERALS + runtime aggregate loops instead of
    // an unrolled dims×planes expression tree: identical arithmetic, but
    // codegen compiles a short loop rather than thousands of add nodes
    // (Janino compile time was the dominant cost of this query).
    val bands = (0 until numBands).map { b =>
      val signs: Column = typedLit((0 until planesPerBand).map { r =>
        val j = b * planesPerBand + r
        (1 to dims).map(i => if (((i * 31 + j * 17) % 7) < 3) 1L else -1L)
      })
      val weights: Column = typedLit((0 until planesPerBand).map(r => 1L << r))
      val key = aggregate(
        zip_with(signs, weights, (s, w) =>
          when(aggregate(zip_with(s, col("_q"), (a, x) => a * x), lit(0L), _ + _) > 0,
            w).otherwise(0L)),
        lit(0L), _ + _)
      struct(lit(b).as("band"), key.as("band_key"))
    }
    embeddings
      .transform(df => graft.core.Spread.byKey(df, col(idCol)))
      .select(col(idCol), quantize(vec).as("_q"))
      .select(col(idCol), explode(array(bands: _*)).as("_e"))
      .select(col(idCol), col("_e.band").as("band"), col("_e.band_key").as("band_key"))
  }

  /** Candidate pairs from shared band buckets, with the same
    * bucket-population skew cap as [[Dedup.lshCandidatePairs]]: a bucket
    * holding more than `maxBucket` vectors is a near-dup CLUSTER — surface
    * it via the bucket listing, never as O(n²) pairs. Bounds the worst-case
    * pair expansion to maxBucket²/2 per bucket at any corpus size.
    */
  def neardupCandidatePairs(bandBuckets: DataFrame, idCol: String,
                            maxBucket: Int): DataFrame =
    Buckets.cappedPairs(bandBuckets, idCol, maxBucket, "vec_a", "vec_b")

  /** ANN search: restrict brute force to the query vector's bucket. */
  def annTopK(embeddings: DataFrame, idCol: String, vec: Column, dims: Int,
              numPlanes: Int, queryVec: DataFrame, queryBucket: Long, k: Int): DataFrame = {
    val buckets = lshBucket(embeddings, idCol, vec, dims, numPlanes)
    val candidates = embeddings.join(buckets.filter(col("bucket") === queryBucket), idCol)
    bruteForceTopK(candidates, col(idCol), vec, queryVec, k)
  }

  /** Exact cosine (double) for final re-ranking of a small candidate set. */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0d), (acc, v) => acc + v)
    val na = sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0d), (acc, v) => acc + v))
    val nb = sqrt(aggregate(transform(b, x => x.cast("double") * x.cast("double")),
      lit(0.0d), (acc, v) => acc + v))
    dot / (na * nb)
  }
}
