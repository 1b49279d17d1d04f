package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) for embedding compression + approximate
  * search — the memory half of IVF-PQ-style ANN at corpus scale.
  *
  * A d-dim vector is cut into `numSub` subvectors; each subvector is
  * k-means-quantized against a per-subspace codebook of `k` centroids, so
  * the stored representation is `numSub` small codes (numSub=8, k=16 →
  * 8 nibbles = 4 bytes/vector instead of 256 bytes of floats, a 64×
  * compression). Query scoring is Asymmetric Distance Computation (ADC):
  * per subspace, the query precomputes its dot product with every
  * centroid (a numSub×k table, driver-side), and a vector's approximate
  * score is `numSub` table lookups — no float math on the scan.
  *
  * Determinism: everything runs on milli-quantized integer components
  * (see [[Similarity.quantize]]). k-means assignment breaks distance
  * ties on the lower centroid id; centroid updates are exact integer
  * sums rounded once on the driver — the trained codebook is therefore
  * identical across partitionings and reruns (PqSpec asserts it).
  *
  * Scale shape: training aggregates (sub, cid, dim) integer sums — rows
  * bounded by numSub×k×subDim, map-side combined; at 100 TB you train on
  * a hash-sample (codebooks need ~100k vectors, not the corpus) and the
  * corpus-wide work is only `encode` — one narrow pass emitting 4-byte
  * codes — plus the ADC scan over codes. Candidate re-ranking reads full
  * vectors for the candidate set only.
  */
object Pq {

  /** Codebooks: `books(sub)(cid)(dim)` milli-quantized components. */
  final case class Model(dims: Int, numSub: Int, k: Int,
                         books: IndexedSeq[IndexedSeq[IndexedSeq[Long]]]) {
    // a non-divisible split would silently drop the trailing dims from
    // slicing, training, encoding AND the ADC table — fail loud instead
    require(dims % numSub == 0, s"dims=$dims not divisible by numSub=$numSub")
    def subDim: Int = dims / numSub
  }

  /** (vec_id, sub, qsub) long-form quantized subvectors. */
  private def subvectors(emb: DataFrame, id: Column, vec: Column,
                         dims: Int, numSub: Int): DataFrame = {
    val subDim = dims / numSub
    emb.select(id.as("vec_id"), Similarity.quantize(vec).as("q"))
      .select(col("vec_id"),
        explode(transform(sequence(lit(0), lit(numSub - 1)),
          s => struct(s.as("sub"),
            slice(col("q"), s * subDim + 1, lit(subDim)).as("qsub")))).as("e"))
      .select(col("vec_id"), col("e.sub").as("sub"), col("e.qsub").as("qsub"))
  }

  /** Nearest-centroid id for `qsub` given a per-sub codebook literal
    * `struct(cid, cent)` array, ties to the lowest cid. Pure builtin HOFs
    * (no UDF): L2 over integers, argmin via struct-ordered array_min.
    */
  private def assignExpr(booksLit: Column): Column = {
    val cands = element_at(booksLit, col("sub") + 1)
    array_min(transform(cands, c =>
      struct(
        aggregate(zip_with(col("qsub"), c.getField("cent"),
          (a, b) => (a - b) * (a - b)), lit(0L), _ + _).as("d2"),
        c.getField("cid").as("cid"))))
      .getField("cid")
  }

  private def booksColumn(m: Model): Column = {
    // build array<array<struct<cid, cent>>> literal with stable names
    val arr = m.books.map { cents =>
      cents.zipWithIndex.map { case (c, cid) => (cid, c) }
    }
    transform(typedLit(arr), sub =>
      transform(sub, s => struct(s.getField("_1").as("cid"), s.getField("_2").as("cent"))))
  }

  /** Train-once memo: the pq and ivfpq catalog rows train the IDENTICAL
    * codebook (same corpus, same params), so one fit per process serves
    * both. Memoized by [[graft.core.Tmp.stagedOnce]] over `dir` (its
    * content key) with every train param in the tag: training is
    * bit-deterministic (PqSpec), so sharing is observationally
    * transparent; a refreshed dataset or different params miss and
    * retrain.
    */
  def trainCached(emb: DataFrame, dir: String, id: Column, vec: Column,
                  dims: Int = 64, numSub: Int = 8, k: Int = 16,
                  iters: Int = 5): Model =
    graft.core.Tmp.stagedOnce(s"pqmodel_${dims}_${numSub}_${k}_$iters", dir)(
      _ => train(emb, id, vec, dims, numSub, k, iters))

  /** Train per-subspace codebooks with Lloyd's iterations over exact
    * integer sums. Initial centroids: the subvectors of the `k` lowest
    * vec_ids (deterministic seeding).
    */
  /** Training-sample bound: codebooks need ~100k vectors, not the
    * corpus (the class doc's stated 100 TB contract). When the corpus
    * exceeds the cap, a deterministic xxhash64-ranked TakeOrdered picks
    * the sample; below it (every test SF) the sample IS the corpus, so
    * the trained model is unchanged vs the uncapped history.
    */
  val TrainSampleCap: Int = 200000

  def train(emb: DataFrame, id: Column, vec: Column,
            dims: Int = 64, numSub: Int = 8, k: Int = 16, iters: Int = 5): Model = {
    require(dims % numSub == 0, s"dims=$dims not divisible by numSub=$numSub")
    val subDim = dims / numSub
    // ONE bounded collect of quantized vectors; Lloyd's runs on the
    // driver. The former per-iteration distributed aggregation cost was
    // dominated by analysis + codegen of the full codebook literal
    // (numSub x k x subDim) EVERY iteration — ~14 s for a 2k-vector
    // corpus — while the data itself is sample-bounded by design. Same
    // integer math, same seeding, same strict-< tie-break to the lowest
    // cid, same Math.round(sum/n) centroid update, empty clusters keep
    // their centroid: the model is bit-identical (PqSpec pins it).
    val q = emb.select(id.cast("long").as("vec_id"),
      Similarity.quantize(vec).as("q"))
    // The k seed vectors (lowest vec_ids) ride the sample UNCONDITIONALLY:
    // a hash-ranked draw keeps each id with p = cap/n, so past the cap
    // (first crossed at sf100's 2M vectors — caught by the r16 probe) the
    // seed filter below would find only ~k·p of them and the require
    // would trip. Below the cap the union is the identical whole-corpus
    // sample (seeds ∪ rest = corpus when n ≤ cap), so every gated model
    // is bit-identical to the pre-fix history.
    val sample = q.filter(col("vec_id") < k)
      .union(q.filter(col("vec_id") >= k)
        .orderBy(xxhash64(col("vec_id")), col("vec_id"))
        .limit(TrainSampleCap - k))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    // deterministic seeding: the subvectors of the k lowest vec_ids
    val seed = sample.filter(_._1 < k)
    require(seed.length == k, s"need vec_ids 0..${k - 1} to seed $k centroids")
    var books: Array[Array[Array[Long]]] =
      Array.tabulate(numSub, k, subDim)((s, c, d) => seed(c)._2(s * subDim + d))
    var it = 0
    while (it < iters) {
      val sums = Array.ofDim[Long](numSub, k, subDim)
      val counts = Array.ofDim[Long](numSub, k)
      sample.foreach { case (_, v) =>
        var s = 0
        while (s < numSub) {
          var best = 0
          var bestD = Long.MaxValue
          var c = 0
          while (c < k) {
            var d2 = 0L
            var d = 0
            while (d < subDim) {
              val diff = v(s * subDim + d) - books(s)(c)(d)
              d2 += diff * diff
              d += 1
            }
            if (d2 < bestD) { bestD = d2; best = c } // strict <: tie -> lowest cid
            c += 1
          }
          counts(s)(best) += 1
          var d = 0
          while (d < subDim) { sums(s)(best)(d) += v(s * subDim + d); d += 1 }
          s += 1
        }
      }
      books = Array.tabulate(numSub, k, subDim) { (s, c, d) =>
        if (counts(s)(c) > 0) Math.round(sums(s)(c)(d).toDouble / counts(s)(c))
        else books(s)(c)(d)
      }
      it += 1
    }
    Model(dims, numSub, k,
      books.map(_.map(_.toIndexedSeq).toIndexedSeq).toIndexedSeq)
  }

  /** Encode the corpus to PQ codes: (vec_id, codes array<int>, one code
    * per subspace). The native one-eval encoder has no subvector explode
    * and no reassembly shuffle, so encode is one narrow scan (PqSpec pins
    * parity with the composed assignExpr path). The codebooks live in the
    * expression itself, so concurrent encodes with different models on
    * one session cannot see each other's books.
    */
  def encode(emb: DataFrame, id: Column, vec: Column, m: Model): DataFrame =
    emb.select(id.as("vec_id"), codesColumn(vec, m).as("codes"))

  /** The native [[graft.functions.PqEncode]] column over quantized `vec`. */
  private def codesColumn(vec: Column, m: Model): Column =
    GraftColumnBridge.column(graft.functions.PqEncode(
      GraftColumnBridge.expression(Similarity.quantize(vec)), m.books))

  /** The composed-builtins encoder the native path must match — kept as
    * the parity reference for PqSpec.
    */
  private[graft] def encodeComposed(emb: DataFrame, id: Column, vec: Column,
                                    m: Model): DataFrame =
    subvectors(emb, id, vec, m.dims, m.numSub)
      .select(col("vec_id"), col("sub"), assignExpr(booksColumn(m)).as("cid"))
      .groupBy(col("vec_id"))
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("cid")))),
        x => x.getField("cid")).as("codes"))

  /** ADC top-`candidates` by approximate dot product for a quantized
    * query vector, computed as numSub table lookups per row against the
    * driver-precomputed query×centroid dot table.
    */
  def adcCandidates(codes: DataFrame, m: Model, query: IndexedSeq[Long],
                    candidates: Int): DataFrame = {
    require(query.length == m.dims, s"query dim ${query.length} != ${m.dims}")
    val subDim = m.subDim
    val dtable: IndexedSeq[IndexedSeq[Long]] = (0 until m.numSub).map { s =>
      (0 until m.k).map { c =>
        var acc = 0L
        var d = 0
        while (d < subDim) { acc += query(s * subDim + d) * m.books(s)(c)(d); d += 1 }
        acc
      }
    }
    val dlit = typedLit(dtable)
    codes
      .select(col("vec_id"),
        aggregate(
          zip_with(col("codes"), sequence(lit(0), lit(m.numSub - 1)),
            (code, s) => element_at(element_at(dlit, s + 1), code.cast("int") + 1)),
          lit(0L), _ + _).as("adc"))
      .orderBy(col("adc").desc, col("vec_id"))
      .limit(candidates)
  }

  /** Full ANN path: ADC candidate generation over codes, exact
    * integer-dot re-rank of the candidate set only. With `candidates` ≥
    * corpus size this is exhaustive (== brute force); smaller values
    * trade recall for a code-only scan.
    */
  def searchTopK(emb: DataFrame, id: Column, vec: Column, codes: DataFrame,
                 m: Model, query: IndexedSeq[Long], candidates: Int, k: Int): DataFrame = {
    val cand = adcCandidates(codes, m, query, candidates).select(col("vec_id"))
    val qlit = typedLit(query)
    emb.select(id.as("vec_id"), Similarity.quantize(vec).as("q"))
      .join(cand, "vec_id")
      .select(col("vec_id"),
        Similarity.dotQ(col("q"), qlit).as("dot"))
      .orderBy(col("dot").desc, col("vec_id"))
      .limit(k)
  }

  // ------------------------------------------------------------- IVF-PQ

  /** Build the composed IVF-PQ index: coarse cell from [[Ivf]], PQ codes
    * from this module, full vector kept for re-rank — written partitioned
    * by `cell`. The one full pass over the corpus; probes after it read
    * only their probed cell directories (partition pruning), and within a
    * cell the ADC score needs only the 4-byte codes.
    */
  def materializeIvfPq(emb: DataFrame, id: Column, vec: Column,
                       ivf: Ivf.Model, m: Model, path: String): Unit = {
    val assigned = Ivf.assign(emb.select(id.as("vec_id"), vec.as("embedding")),
      "vec_id", "embedding", ivf)
    // codes appended in the SAME narrow pass — joining encode(assigned)
    // back onto assigned would recompute the assignment AND shuffle the
    // corpus once for nothing (cells + codes are both per-row functions
    // of the vector)
    assigned
      .withColumn("codes", codesColumn(col("embedding"), m))
      .select(col("vec_id"), col("embedding"), col("codes"), col("cell"))
      // cluster by cell before the partitioned write: without it every
      // input task writes a file into every cell dir (tasks x cells
      // tiny files — the classic partitioned-write mistake at scale)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)
  }

  /** Probe the composed index: partition-prune to `nprobe` cells, ADC
    * over the pruned cells' CODES for `candidates`, exact re-rank of the
    * candidates' full vectors (read from the same pruned partitions).
    * nprobe and candidates are the two recall/latency knobs of the
    * standard IVF-PQ serving shape.
    */
  def probeIvfPq(spark: org.apache.spark.sql.SparkSession, path: String,
                 ivf: Ivf.Model, m: Model, query: IndexedSeq[Long],
                 nprobe: Int, candidates: Int, k: Int): DataFrame = {
    val qd = query.map(_.toDouble / 1000.0).toArray
    val cells = ivf.nearestCells(qd, nprobe)
    val pruned = spark.read.parquet(path).filter(col("cell").isin(cells: _*))
    val cand = adcCandidates(pruned.select(col("vec_id"), col("codes")), m, query, candidates)
      .select(col("vec_id"))
    val qlit = typedLit(query)
    pruned
      .join(cand, "vec_id")
      .select(col("vec_id"),
        Similarity.dotQ(Similarity.quantize(col("embedding")), qlit).as("dot"))
      .orderBy(col("dot").desc, col("vec_id"))
      .limit(k)
  }
}
