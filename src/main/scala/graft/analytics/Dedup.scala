package graft.analytics

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.core.Spread

/** Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale design (100 TB): every variant reduces a document to a small
  * signature FIRST (narrow, codegen'd expressions), so the only shuffles are
  * on signature keys — never on raw text. Candidate generation is a
  * bucket-join on band keys (classic MinHash-LSH), which at 1000 executors
  * is a hash shuffle of (doc_id, band_key) pairs, orders of magnitude
  * smaller than the corpus.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup: group by content hash, keep the smallest doc_id.
    * Map-side partial aggregation makes this a single small shuffle of
    * (hash, min_id, count) partials.
    */
  def exact(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.groupBy(md5(text).as("text_hash"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_copies"))

  // ------------------------------------------------------------- shingles

  /** Character k-shingles as (doc_id, shingle) rows. A doc of n chars
    * yields n-k+1 rows; the input is hash-repartitioned on the doc id
    * FIRST so the ~n× explode fan-out runs on every core even when the
    * source is a single parquet file (and, at 100 TB, so skewed input
    * files don't serialize the hash work).
    *
    * This exploded form is the REFERENCE the per-row kernels are pinned
    * against ([[minhashWide]], MinHashNativeSpec, ShingleSetSpec): the
    * production paths cut the same code-point windows inside one row
    * ([[graft.functions.MinHashSignature]], [[graft.functions.ShingleSet]]).
    */
  def shingles(docs: DataFrame, idCol: String, text: Column, k: Int): DataFrame =
    Spread.byKey(docs, col(idCol))
      .select(col(idCol), text.as("_t"),
        explode(sequence(lit(1), greatest(length(text) - (k - 1), lit(1)))).as("pos"))
      .select(col(idCol), expr(s"substring(_t, pos, $k)").as("shingle"))

  // -------------------------------------------------------------- minhash

  /** One-permutation-style hash family: hash function `s` orders shingles
    * by the md5 hex string rotated left by 4*s characters. One md5 per
    * shingle feeds all k functions (vs. k md5s), and the k mins compute in
    * a SINGLE map-side-combined aggregation pass — at 100 TB this is one
    * shuffle of (doc_id, m0..mk) partials, no k-times-exploded
    * intermediate.
    */
  private def rot(h: Column, s: Int): Column =
    if (s == 0) h
    else concat(substring(h, 4 * s + 1, 32 - 4 * s), substring(h, 1, 4 * s))

  /** Wide signatures: one row per doc, columns m0..m{numHashes-1}. */
  def minhashWide(docs: DataFrame, idCol: String, text: Column,
                  k: Int, numHashes: Int): DataFrame = {
    require(numHashes <= 8, "rotation family uses 4-char steps over 32 hex chars")
    // project the md5 BEFORE the agg: aggregate expressions get no common-
    // subexpression elimination, so min(rot(md5(x), s)) would run the md5
    // once per hash function instead of once per shingle
    val aggs = (0 until numHashes).map(s => min(rot(col("h"), s)).as(s"m$s"))
    shingles(docs, idCol, text, k)
      .select(col(idCol), md5(col("shingle")).as("h"))
      .groupBy(col(idCol))
      .agg(aggs.head, aggs.drop(1): _*)
  }

  /** Native-expression signatures: the whole document signature in one
    * `MinHashSignature` evaluation — no shingle explode, no aggregation
    * shuffle; bit-identical to [[minhashWide]] and the DuckDB oracle.
    * The two-step select is deliberate: CollapseProject keeps the
    * expensive signature expression single-evaluated because it is
    * referenced numHashes times.
    */
  def minhashWideNative(docs: DataFrame, idCol: String, text: Column,
                        k: Int, numHashes: Int): DataFrame = {
    Spread.byKey(docs, col(idCol))
      .select(col(idCol),
        graft.functions.MinHashSignature.signature(text, k, numHashes).as("_sig"))
      .select(col(idCol) +:
        (0 until numHashes).map(s => element_at(col("_sig"), s + 1).as(s"m$s")): _*)
  }

  /** Long-format signatures (id, seed, minhash) — the oracle-checked shape. */
  def minhashSignatures(docs: DataFrame, idCol: String, text: Column,
                        k: Int, numHashes: Int): DataFrame = {
    val wide = minhashWideNative(docs, idCol, text, k, numHashes)
    wide.select(col(idCol),
        explode(array((0 until numHashes).map(s =>
          struct(lit(s).as("seed"), col(s"m$s").as("minhash"))): _*)).as("e"))
      .select(col(idCol), col("e.seed").as("seed"), col("e.minhash").as("minhash"))
  }

  /** LSH banding: hash each document's per-band signature slice to a band
    * key; documents sharing a (band, band_key) bucket are near-dup
    * candidates. `rowsPerBand` consecutive hash functions form a band.
    * Computed straight off the wide signatures — no per-seed shuffle.
    */
  def lshBandKeys(docs: DataFrame, idCol: String, text: Column, k: Int,
                  numHashes: Int, rowsPerBand: Int): DataFrame =
    bandKeysFromWide(minhashWideNative(docs, idCol, text, k, numHashes),
      idCol, numHashes, rowsPerBand)

  /** Band keys off an EXISTING wide-signature table (m0..m{n-1} columns) —
    * the entry point for signature STORES: a corpus's signatures are
    * computed once and persisted; new documents extend the index by
    * computing only their own signatures and unioning before banding.
    */
  def bandKeysFromWide(wide: DataFrame, idCol: String,
                       numHashes: Int, rowsPerBand: Int): DataFrame = {
    val numBands = numHashes / rowsPerBand
    wide.select(col(idCol),
        explode(array((0 until numBands).map { b =>
          val slice = (0 until rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}"))
          struct(lit(b).as("band"), md5(concat(slice: _*)).as("band_key"))
        }: _*)).as("e"))
      .select(col(idCol), col("e.band").as("band"), col("e.band_key").as("band_key"))
  }

  /** Candidate-pair buckets: bucket population per band key. Pairs are
    * (a, b) within a bucket with a < b; at scale emit pairs only for
    * buckets below a size cap to bound skew.
    */
  def lshBuckets(bandKeys: DataFrame, idCol: String): DataFrame =
    bandKeys.groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("min_doc"))

  /** @param maxBucket pair-expansion skew cap: buckets above this
    *                   population are dropped from pair generation (a hot
    *                   bucket IS a near-dup cluster — handle it as a
    *                   cluster via `lshBuckets`, not as O(n²) pairs)
    */
  def lshCandidatePairs(bandKeys: DataFrame, idCol: String, maxBucket: Int = 1000): DataFrame =
    Buckets.cappedPairs(bandKeys, idCol, maxBucket, "doc_a", "doc_b")

  /** Candidate generation FUSED with the exact n-gram Jaccard verify —
    * identical pair set and per-pair statistics to
    * `ngramJaccard(lshCandidatePairs(bandKeys), docs)` (same cap, same
    * `inter > 0` parity filter), restructured so the shingle sets never
    * ride a shuffle at PAIR multiplicity. The r15 sf100 autopsy
    * (SCALE.md): 5M docs produced 78M capped candidates, and the
    * join-by-pair form attaches each doc's full shingle array to every
    * pair it appears in (~16 arrays/doc average, hot dup-cluster members
    * far more) — the (pair × array) intermediate then SHUFFLES into the
    * second join, ~600 GB of spill at sf100, ENOSPC. Here the sets join
    * onto the BAND rows instead (each doc's set moves once per band — a
    * fixed ×2, never ×pairs), the intersect computes inside the bucket
    * self-join's stage, and only the (doc_a, doc_b, inter, n_a, n_b)
    * verdict rows — 40 bytes, not kilobytes — reach the pair-dedup
    * shuffle. Two more bounds keep the set movement itself small: only
    * docs in SHAREABLE buckets (2 ≤ members ≤ cap) need sets at all, and
    * their bucket keys are broadcast back into the shingle scan so
    * non-colliding docs never leave it.
    *
    * One reference per intermediate: the plan is a single query in which
    * the band-key pipeline, the bucket-size window and the set build each
    * appear once, with no pin. The shareable keys reach the sets as ONE
    * per-doc list (≤ numBands entries), broadcast into the doc scan; each
    * kept doc builds its set once and explodes it onto its own keys. The
    * bucket self-join reads both sides from that one (band, band_key)
    * exchange, which Spark plans as a `ReusedExchange`. The bucket sizes
    * come from a window, not a `collect_list` per bucket: a window
    * streams a hot bucket through its partition, where a per-bucket list
    * would hold all of its members in one aggregation buffer. A
    * `persist`ed `bandKeys` keeps the result but loses the reuse: adaptive
    * execution gives each join side its own cached scan stage, so the key
    * list, its broadcast and the sets are built once per side.
    *
    * Precondition: `docs` holds ONE row per id. Each row's shingle set is
    * built on its own ([[graft.functions.ShingleSet]]), so two rows
    * sharing an id would yield two sets, not their union.
    */
  def lshVerifiedPairs(bandKeys: DataFrame, docs: DataFrame, idCol: String,
                       text: Column, k: Int, maxBucket: Int = 1000): DataFrame = {
    val keys = bandKeys
      .withColumn("_n", count(lit(1)).over(
        Window.partitionBy(col("band"), col("band_key"))))
      .filter(col("_n") >= 2 && col("_n") <= maxBucket)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("band"), col("band_key"))).as("_keys"))
    // sets built SORTED, once per doc and within its row (ShingleSet: no
    // shingle explode, no aggregation shuffle), so the per-pair intersect
    // below is a primitive two-pointer merge, not an array_intersect
    // hash-set rebuild per candidate pair — see
    // [[graft.functions.SortedIntersectCount]] for the sf100 numbers.
    // The set is projected BELOW the explode: an expression beside a
    // generator is evaluated per generated row, i.e. once per band.
    val exploded = Spread.byKey(docs.join(broadcast(keys), Seq(idCol)), col(idCol))
      .select(col(idCol), col("_keys"),
        graft.functions.ShingleSet.column(text, k).as("ss"))
      .select(col(idCol), col("ss"), explode(col("_keys")).as("_k"))
      .select(col("_k.band").as("band"), col("_k.band_key").as("band_key"),
        col(idCol), col("ss"))
    // the bucket exchange, written out: a planned one vanishes when a small
    // input makes the self-join a broadcast join, and each side then builds
    // its own sets. Spread at a fixed width: AQE would otherwise fold the
    // pair fan-out (a merge intersect per pair) into one task, since its
    // input is few bytes.
    val withSets = Spread.byKey(exploded, col("band"), col("band_key"))
    withSets.as("l").join(withSets.as("r"),
        col("l.band") === col("r.band") && col("l.band_key") === col("r.band_key") &&
          col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("doc_a"), col(s"r.$idCol").as("doc_b"),
        graft.functions.SortedIntersectCount.column(col("l.ss"), col("r.ss")).as("inter"),
        size(col("l.ss")).cast("long").as("n_a"),
        size(col("r.ss")).cast("long").as("n_b"))
      // a pair colliding in BOTH bands yields two IDENTICAL verdict rows.
      // Grouped on the pair, not `distinct`: the statistics then leave an
      // aggregate, so no filter on them (inter > 0 here, a caller's
      // Jaccard cut) is pushed into the join condition, where each would
      // run the intersect again, and ahead of the id test
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("inter")).as("inter"), max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"))
      .filter(col("inter") > 0) // parity with ngramJaccard
      .withColumn("uni", col("n_a") + col("n_b") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
  }

  // -------------------------------------------------------------- simhash

  /** SimHash (`bits`-bit, bits <= 16): per-token md5, bit b weighted +1 if
    * the high bit of hex nibble b is set else -1; signature bit = sign of
    * the summed weight. Hamming-close signatures => near-dups.
    */
  /** Native-expression SimHash: whole signature per row, no explode, no
    * shuffle (bit-identical to [[simhash]] — SimHashNativeSpec).
    */
  def simhashNative(docs: DataFrame, idCol: String, text: Column, bits: Int): DataFrame = {
    Spread.byKey(docs, col(idCol))
      .select(col(idCol), graft.functions.SimHash.column(text, bits).as("simhash"))
  }

  def simhash(docs: DataFrame, idCol: String, text: Column, bits: Int): DataFrame = {
    require(bits <= 16, "simhash uses one hex nibble per bit, md5 gives 32")
    // all `bits` weight sums in ONE map-side-combined pass over the token
    // rows (no per-bit explode, no second shuffle): weight for bit b is +1
    // when the high bit of md5 hex nibble b is set, else -1
    val tok = Spread.byKey(docs, col(idCol))
      .select(col(idCol), explode(split(text, " ")).as("w"))
      .select(col(idCol), md5(col("w")).as("h"))
    val bitSums = (0 until bits).map { b =>
      sum(when(instr(lit("89abcdef"), substring(col("h"), b + 1, 1)) > 0, 1)
        .otherwise(-1)).as(s"sw$b")
    }
    tok.groupBy(col(idCol))
      .agg(bitSums.head, bitSums.drop(1): _*)
      .select(col(idCol),
        (0 until bits).map(b => when(col(s"sw$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  // ------------------------------------------------------- n-gram jaccard

  /** Exact n-gram Jaccard over candidate pairs: |A∩B| / |A∪B| of distinct
    * shingle sets. Run AFTER LSH candidate generation — the join is on
    * (pair), not all-pairs. Jaccard returned in exact integer form
    * (inter, uni) plus the double ratio.
    *
    * No pin: the sets are built once, below their own exchange, and both
    * pair joins read that exchange (a `ReusedExchange`). `pairs` is read
    * twice, by the candidate ids and by the first join; a `pairs` that ends
    * in an exchange (the recall universe's pair-keyed aggregate) is built
    * once and read through it. A cached `pairs` is read from the cache by
    * each consumer instead (adaptive execution gives each its own cached
    * scan stage): a second cache read, not a second pair build.
    *
    * Each doc's set array rides the joins once per pair it appears in,
    * which is fine for the LINEAR pair sets this generic entry point
    * serves (consecutive-id demo pairs, the sampled recall eval) but was
    * ~600 GB of shuffle at sf100's 78M LSH candidates — the corpus-scale
    * path is [[lshVerifiedPairs]], where sets move once per BAND instead.
    *
    * Precondition: `docs` holds ONE row per id (sets are built per row by
    * [[graft.functions.ShingleSet]], not merged across rows that share an
    * id).
    */
  def ngramJaccard(pairs: DataFrame, docs: DataFrame, idCol: String,
                   text: Column, k: Int): DataFrame = {
    // candidate-bounded: only docs that appear in `pairs` build a set (a
    // broadcast semi join, the id set is <= 2x|pairs|), so non-candidate
    // docs never leave their scan. Sets hold 8-byte hashes, not shingle
    // strings (64-bit collisions are ~1e-8 at billions of shingles).
    val candIds = pairs.select(explode(array(col("doc_a"), col("doc_b"))).as(idCol)).distinct()
    // spread before the kernel so it runs on every core; the repartition
    // on the id after it is the exchange both joins read. The spread keys
    // on a hash of the id, not the id: a spread already partitioned on the
    // id would let the planner drop that repartition, and a shuffle join
    // would then run the kernel once per side.
    val sets = Spread.byKey(docs.join(broadcast(candIds), Seq(idCol), "left_semi"),
        xxhash64(col(idCol)))
      .select(col(idCol), graft.functions.ShingleSet.column(text, k).as("ss"))
      .repartition(col(idCol))
    pairs
      .join(sets.select(col(idCol).as("doc_a"), col("ss").as("ss_a")), "doc_a")
      .join(sets.select(col(idCol).as("doc_b"), col("ss").as("ss_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        graft.functions.SortedIntersectCount.column(col("ss_a"), col("ss_b")).as("inter"),
        size(col("ss_a")).cast("long").as("n_a"), size(col("ss_b")).cast("long").as("n_b"))
      .filter(col("inter") > 0) // parity with join-based formulation
      .withColumn("uni", col("n_a") + col("n_b") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
  }

  /** SimHash Hamming-neighborhood candidate pairs: pigeonhole banding —
    * split the `bits`-bit signature into (maxDist+1) contiguous bit bands;
    * any pair within Hamming distance `maxDist` must agree EXACTLY on at
    * least one band, so a per-band bucket join loses nothing. Pairs then
    * verify with an exact popcount on the XOR. Same bucket-population cap
    * as the MinHash path (a hot band bucket is a dup cluster).
    *
    * Scale: shuffles (band, band_key, id, 8-byte signature) only; pair
    * expansion bounded by maxBucket²/2 per bucket; popcount is codegen'd.
    */
  def simhashCandidatePairs(sigs: DataFrame, idCol: String, bits: Int,
                            maxDist: Int, maxBucket: Int = 1000): DataFrame = {
    val nBands = maxDist + 1
    val base = bits / nBands
    val extra = bits % nBands
    def width(b: Int) = base + (if (b < extra) 1 else 0)
    val bandCols = (0 until nBands).map { b =>
      val off = (0 until b).map(width).sum
      struct(lit(b).as("band"),
        shiftright(col("simhash"), off).bitwiseAND(lit((1L << width(b)) - 1))
          .as("band_key"))
    }
    val banded = sigs
      .select(col(idCol), col("simhash").as("sh"), explode(array(bandCols: _*)).as("_e"))
      .select(col(idCol), col("sh"),
        col("_e.band").as("band"), col("_e.band_key").as("band_key"))
    Buckets.cappedPairs(banded, idCol, maxBucket, "doc_a", "doc_b", carry = Seq("sh"))
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(sh_a ^ sh_b)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxDist)
  }

  // ------------------------------------------- duplicate-cluster components

  /** Connected components over candidate pairs (HashMin label
    * propagation): every doc's cluster label converges to the smallest
    * doc_id reachable through the near-dup graph. This is the step that
    * turns pairwise matches into DEDUP CLUSTERS (keep the root, drop the
    * rest).
    *
    * Scale: each round is one keyed shuffle of (node, label) — never
    * materializing paths — and plain propagation converges in O(graph
    * diameter) rounds. Near-dup graphs are usually SHALLOW (dups of a
    * common source form dense clusters: diameter 1-3), where extra
    * machinery only adds shuffles; but chain-shaped components (sparse
    * verify cuts measure BFS depth 13+) would take a driver-loop round
    * per hop, and each round is a full Spark job. So jumping is
    * ADAPTIVE: a graph still unconverged after 3 rounds switches to
    * propagate + POINTER JUMP (label := label(label)) rounds, which
    * compress the remaining chain geometrically — O(log diameter)
    * rounds from there on. The jump join is on the (node, label) set
    * itself, strictly smaller than the edge relation the same round
    * already shuffles. The driver-side loop only checks a per-round
    * changed-count (an aggregate scalar, no data collect).
    *
    * Round bound: `maxIter` is a FLOOR, not the bound — the loop runs up
    * to max(maxIter, 12 + 2·ceil(log2(directed edges))) rounds, because
    * HashMin + single-level jumping needs ~log2(n) rounds in the worst
    * case and a CONSTANT cap is a scale cliff: the r17 sf100 probe hit
    * exactly this (3.3M directed candidate edges, largest component 8.0k
    * nodes at diameter ≥40; the replayed algorithm converges in 22
    * rounds — one more than log2(n) — while the old cap was 20). At
    * 10^10 nodes the adaptive bound is ~80 rounds of one keyed shuffle
    * each, which is this algorithm family's floor anyway; genuine
    * pathology still fails loud at the bound.
    *
    * HYBRID: a small pair set is a driver-trivial union-find — the same
    * bounded-driver-work stance as IVF's sampled k-means. The pair rows
    * are pinned once and read back by ONE bounded `take(rowCap + 1)`,
    * where rowCap is the smaller of
    * [[DriverEdgeThreshold]] (pair rows; bounds driver CPU) and the
    * rows [[graft.core.DriverBudget]] admits (bounds driver MEMORY — a
    * wide-key graph can sit under the count cap and still not fit). At
    * most rowCap rows back: union-find on the driver. More: the
    * distributed loop, built from the same pin, so the upstream pair plan
    * runs once on either path. Labels are identical by construction: min
    * reachable id per component.
    *
    * Returns (doc_id, component) for every doc that appears in `pairs`.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame =
    components(pairs, maxIter).fold(_.labels, identity)

  /** Pair rows at most labelled on the driver (see [[connectedComponents]]). */
  private val DriverEdgeThreshold = 1000000L

  /** Observability for specs: whether the last connectedComponents or
    * dupClusters call took the driver union-find path (true) or the
    * distributed HashMin loop (false).
    */
  @volatile private[graft] var lastPathDriver: Boolean = false

  /** Pins `pairs`' (doc_a, doc_b) rows, then labels them on the driver
    * when at most rowCap rows come back (see [[connectedComponents]]),
    * else with the distributed loop over the same pin. `driverRows`
    * replaces [[DriverEdgeThreshold]], for specs that force either path.
    */
  private[graft] def components(pairs: DataFrame, maxIter: Int = 20,
                                driverRows: Long = DriverEdgeThreshold): Either[DriverLabels, DataFrame] = {
    val spark = pairs.sparkSession
    val pairRows = pairs.select(col("doc_a"), col("doc_b"))
    // the pin is the pair query's own result RDD, so the bounded take
    // below computes and caches it in one job (a cached Dataset would
    // take one job to build the cache and another to read it)
    val pin = pairRows.rdd.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // each pair row becomes two directed edges on the driver
      val budgetRows = graft.core.DriverBudget.edgesAdmitted(
        spark.createDataFrame(pin, pairRows.schema), "doc_a", "doc_b") / 2
      val rowCap = math.min(math.min(driverRows, budgetRows), Int.MaxValue - 1L).toInt
      val rows = pin.take(rowCap + 1)
      lastPathDriver = rows.length <= rowCap
      if (lastPathDriver) Left(new DriverLabels(spark, pairRows.schema("doc_a").dataType, rows))
      else Right(graft.core.Checkpoints.scoped(spark) {
        distributedComponents(spark, pin, pairRows.schema, maxIter)
      })
    } finally pin.unpersist()
  }

  /** Adaptive CC round bound: max(caller floor, 12 + 2·ceil-ish log2 of
    * the directed edge count). Exposed for the bound's own spec — the
    * integration evidence is the sf100 probe (BASELINE.md r17). */
  private[graft] def ccRoundBound(maxIter: Int, nDirected: Long): Int =
    math.max(maxIter,
      12 + 2 * (64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, nDirected))))

  /** The distributed HashMin + pointer-jumping loop over the pinned pair
    * rows; releases the pin once the edge list built from it is
    * materialized. Each round costs ~1 s of scheduling whatever the data
    * size (join + agg + checkpoint jobs), which is why small graphs take
    * the driver.
    */
  private def distributedComponents(spark: SparkSession, pin: RDD[Row], schema: StructType,
                                    maxIter: Int): DataFrame = {
    // Undirected edge list, both directions, in ONE pass over the pin: the
    // explode is narrow.
    // No distinct — min-propagation is multi-edge tolerant (duplicate
    // contributions to min() are harmless), so deduping here would be a
    // pure extra shuffle. Repartitioned by src so the per-round join
    // reuses this partitioning and only the (small) label side shuffles.
    val edges = spark.createDataFrame(pin, schema)
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("src"))
      // pre-sorted within partitions: the cache scan reports the stored
      // ordering, so each round's merge join skips re-sorting the edge
      // side (the labels side, node-count-sized, still sorts). The join
      // itself is already exchange-free — cached hash(src) edges against
      // hash(src)-partitioned label aggs (one live exchange per round =
      // the doc_id aggregation).
      .sortWithinPartitions(col("src"))
      .persist()
    val nDirected = edges.count()
    pin.unpersist()
    // IMPORTANT cache discipline: unpersist must be called on the EXACT
    // DataFrame that was persisted — calling it on a projection is a
    // silent no-op, caches pile up, and eviction then cascades into
    // recomputing whole iteration lineages. `cached` tracks the persisted
    // handle; `labels` is a projection over it (cache-hit on read).
    var cached = edges.groupBy(col("src").as("doc_id"))
      .agg(least(min(col("dst")), first(col("src"))).as("component"))
      .persist()
    var labels = cached
    var iter = 0
    var converged = false
    // rounds of plain propagation before pointer jumping kicks in
    val jumpAfter = 3
    // adaptive bound (see scaladoc): HashMin + single jump needs ~log2(n)
    // worst-case rounds; a constant cap broke at the sf100 probe (22
    // rounds needed, cap 20). maxIter stays a caller-raisable floor.
    val roundBound = ccRoundBound(maxIter, nDirected)
    while (iter < roundBound && !converged) {
      // Propagate: label = min(own, neighbors' labels). One join (edges ⋈
      // labels on src, shipping each node's label to its neighbors) + one
      // groupBy — the union carries each node's OWN label tagged `own`, so
      // the same aggregate yields both the new label (min over all
      // contributions) and the old one (the own-tagged value) for change
      // detection, with no second join.
      // ADAPTIVE pointer jumping: near-dup graphs are usually shallow
      // (dups of a common source: diameter 1-3), and there plain
      // propagation converges in 3-4 rounds — adding a jump join would
      // only add shuffles (measured ~15% slower on the fixture corpora).
      // A graph still unconverged after `jumpAfter` rounds is
      // chain-shaped; from then on each round also jumps
      // (label := label(label)), compressing the remaining chain
      // geometrically: depth-13 fixtures converge in ~8 rounds total vs
      // ~14 plain (measured ~1.7x faster end-to-end).
      val doJump = iter >= jumpAfter
      val propPlan = edges
        .join(labels.withColumnRenamed("doc_id", "src")
          .withColumnRenamed("component", "lab"), "src")
        .select(col("dst").as("doc_id"), col("lab"), lit(false).as("own"))
        .union(labels.select(col("doc_id"), col("component").as("lab"),
          lit(true).as("own")))
        .groupBy(col("doc_id"))
        .agg(min(col("lab")).as("half"),
          max(when(col("own"), col("lab"))).as("_old"))
      val next = if (!doJump) {
        propPlan.select(col("doc_id"), col("half").as("component"), col("_old"))
          .persist()
      } else {
        // Every label IS a node id (min over a set containing the node
        // itself), so the jump is a self-join of the fresh labels on
        // (label = node); left + coalesce guards the root case where a
        // label has no row of its own left.
        val prop = propPlan.persist()
        val jumpTable = prop.select(col("doc_id").as("jk"), col("half").as("leap"))
        val jumped = prop
          .join(jumpTable, col("half") === col("jk"), "left")
          .select(col("doc_id"),
            least(col("half"), coalesce(col("leap"), col("half"))).as("component"),
            col("_old"))
        // Cut the SQL lineage in the jump regime: the self-join embeds
        // the round's plan TWICE, so an uncut plan tree doubles per
        // round and analysis goes exponential (measured: explain-string
        // OOM by round ~14). Rebuilding from the round's RDD resets the
        // plan to a leaf while the RDD DAG — a shared graph, not a
        // tree — grows linearly. Shallow runs never pay either cost.
        val cut = prop.sparkSession
          .createDataFrame(jumped.rdd, jumped.schema)
          .persist()
        cut.count() // materialize before releasing the round's prop cache
        prop.unpersist()
        cut
      }
      val changed = next.filter(col("component") =!= col("_old")).count()
      cached.unpersist()
      cached = next
      labels = next.drop("_old")
      converged = changed == 0
      iter += 1
    }
    // a silent partial result would be WRONG labels (one cluster split in
    // several) — fail loud instead; callers raise maxIter for deep graphs
    require(converged,
      s"connectedComponents did not converge in $roundBound rounds " +
        s"(floor $maxIter, adaptive for $nDirected directed edges) — " +
        "graph diameter exceeds the bound; raise maxIter")
    // truncate lineage (distributed, no driver collect) so the round
    // caches can be released before the caller's downstream runs. With a
    // checkpoint dir configured, use the RELIABLE checkpoint: eager
    // localCheckpoint stores blocks on executors only, so an executor
    // loss after the loop would make the result unrecoverable (lineage
    // was truncated). local-mode runs without a checkpoint dir keep the
    // cheap local form. The checkpoint files land in the enclosing
    // Checkpoints.scoped subdir: the result is pinned to the replicated
    // cache and the files are deleted before connectedComponents returns.
    val result =
      if (spark.sparkContext.getCheckpointDir.isDefined)
        labels.checkpoint(true)
      else labels.localCheckpoint(true)
    edges.unpersist()
    cached.unpersist()
    result
  }

  /** Driver-side exact components of collected (doc_a, doc_b) rows:
    * union-find with path compression, then per-root minimum under the
    * key type's natural ordering — bit-identical to what HashMin
    * converges to.
    */
  private[graft] final class DriverLabels(spark: SparkSession, keyType: DataType, rows: Array[Row]) {
    /** Every node → its component's least node. */
    private val component: java.util.HashMap[Any, Any] = {
      val parent = new java.util.HashMap[Any, Any]()
      def find(x0: Any): Any = {
        var root = x0
        var p = parent.getOrDefault(root, root)
        while (p != root) { root = p; p = parent.getOrDefault(root, root) }
        var x = x0
        while (x != root) { val nxt = parent.get(x); parent.put(x, root); x = nxt }
        root
      }
      val nodes = new java.util.HashSet[Any]()
      rows.foreach { r =>
        val a = r.get(0); val b = r.get(1)
        nodes.add(a); nodes.add(b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent.put(ra, rb)
      }
      val ord: Ordering[Any] = new Ordering[Any] {
        def compare(a: Any, b: Any): Int = a.asInstanceOf[Comparable[Any]].compareTo(b)
      }
      val minOfRoot = new java.util.HashMap[Any, Any]()
      nodes.forEach { n =>
        val r = find(n)
        val cur = minOfRoot.get(r)
        if (cur == null || ord.lt(n, cur)) minOfRoot.put(r, n)
      }
      val out = new java.util.HashMap[Any, Any](nodes.size * 2)
      nodes.forEach(n => out.put(n, minOfRoot.get(find(n))))
      out
    }

    /** (doc_id, component) per node. */
    def labels: DataFrame = {
      val out = new scala.collection.mutable.ArrayBuffer[Row](component.size)
      component.forEach((n, c) => out += Row(n, c))
      spark.createDataFrame(
        spark.sparkContext.parallelize(out.toSeq,
          math.max(1, math.min(32, out.size / 50000 + 1))),
        StructType(Seq(StructField("doc_id", keyType), StructField("component", keyType))))
    }

    /** (component, n_docs, keep_id) per cluster, as a local relation so a
      * caller's collect runs no job. A component IS its least member, so
      * it is also the keeper.
      */
    def clusters: DataFrame = {
      val sizes = new java.util.HashMap[Any, java.lang.Long]()
      component.forEach((_, c) => sizes.merge(c, 1L, (a, b) => a + b))
      val out = new java.util.ArrayList[Row](sizes.size)
      sizes.forEach((c, n) => out.add(Row(c, n, c)))
      spark.createDataFrame(out, StructType(Seq(
        StructField("component", keyType),
        StructField("n_docs", LongType, nullable = false),
        StructField("keep_id", keyType))))
    }
  }

  /** Cluster summary: component root (= canonical keeper), member count.
    * On the driver path the summary is built where the labels are, with
    * no further job.
    */
  def dupClusters(pairs: DataFrame): DataFrame = clusters(components(pairs))

  private[graft] def clusters(labelled: Either[DriverLabels, DataFrame]): DataFrame =
    labelled.fold(_.clusters, _
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id")))
}
