package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.analytics.{Ivf, Similarity}
import graft.core.{SessionConf, Tables, Tmp}

/** Graph / evaluation-layer operators for the training-data pipeline:
  * iterative PageRank over an entity graph, k-NN auto-labeling of a
  * held-out embedding split, and a deterministic stratified corpus
  * split. Same determinism conventions as [[QueriesCdc]] — every
  * computation that crosses the oracle boundary is integer-exact.
  */
object QueriesGraph {

  private def docs(s: SparkSession, dir: String) = Tables.documents(s, dir)
  private def emb(s: SparkSession, dir: String) = Tables.embeddings(s, dir)

  // ------------------------------------------------------------- pagerank

  /** Integer fixed-point PageRank (d=0.85, 10 rounds) over the
    * customer–supplier graph induced by lineitem×orders: an edge links a
    * customer to every supplier it bought from, traversed in both
    * directions so rank circulates through the bipartite structure.
    *
    * All arithmetic is 64-bit integer fixed point (total mass 10^12,
    * truncating division) so Spark and the oracle agree BIT-exactly —
    * float PageRank sums in engine-dependent order and would drift in
    * the last digits. Truncation leaks a few units of mass per round;
    * that loss is part of the operator's contract, identically on both
    * engines.
    *
    * Scale shape: classic Pregel-on-DataFrames at the message-passing
    * shuffle floor — per round, one src-keyed join producing
    * contributions plus ONE node-keyed aggregation folding them with a
    * carrier row of static node attributes (no join back to the node
    * table). The edge table is materialized once and reused by all 10
    * rounds; each round's rank state is localCheckpointed because the
    * union references it twice (see SCALE.md: dual-referenced loop
    * state). At 100 TB the node and edge tables both exceed memory:
    * every step is a keyed shuffle, nothing is collected, and no step
    * needs the whole graph co-resident.
    */
  def pagerank(s: SparkSession, dir: String): DataFrame =
    graft.core.Checkpoints.scoped(s) { pagerankBody(s, dir) }

  /** Shuffle width for the graph loops, derived from the measured edge
    * volume instead of a hand-set knob (r17 verdict task 4 — the sf100
    * probe needed a width of 256 rediscovered by hand; the same
    * launch-time-sizing stance as the r14 stream_join width fix).
    *
    * Anchor: the completing r17 sf100 run sustained 1.17B directed edges
    * at width 256 ≈ 4.6M edges/partition on an 8 GB heap — so the rule
    * targets ~5M directed edges per partition, rounds up to a multiple
    * of 32 (full thread occupancy at local[32]; on a cluster, a multiple
    * of the executor-core count), floors at the session width (small
    * fixtures keep their recorded 32-wide methodology bit-for-bit), and
    * caps at 1024 (beyond ~5B edges/JVM the single-node probe is not the
    * instrument — a fleet scales executors, not partitions-per-heap).
    */
  private[graft] def graphShuffleWidth(s: SparkSession, estDirectedEdges: Long): Int = {
    val session = s.sessionState.conf.numShufflePartitions.toLong
    val need = (estDirectedEdges + 4999999L) / 5000000L
    val rounded = ((need + 31L) / 32L) * 32L
    math.min(1024L, math.max(session, rounded)).toInt
  }

  /** Directed-edge count up to which PageRank runs as the driver
    * fixed-point loop ([[driverPagerank]]) instead of distributed
    * rounds, if the graph also passes the DriverBudget bytes gate.
    */
  private val PagerankDriverEdgeThreshold = 2500000L

  private def pagerankBody(s: SparkSession, dir: String): DataFrame = {
    // AUTO-SHAPE: size the loop's shuffle width BEFORE the expensive
    // adjacency build from a cheap upper bound on the directed-edge count
    // — every lineitem row joins exactly one order (FK), and the
    // bidirectional fan-out doubles it, so est = 2·|lineitem| bounds
    // nDirected from above (dedup only shrinks it). The parquet count is
    // metadata-cheap next to the build it sizes. Scoped set/restore of
    // the session width: construction AND every eager checkpoint
    // materialization happen inside this body, and the per-round
    // exchange-free join requires the rank state and adjacency to share
    // one width, so the session conf (not a per-repartition constant) is
    // the correct carrier. SINGLE-CALLER ASSUMPTION (r18 ADVICE item 4):
    // the mutation is visible to any concurrent query on the same
    // SparkSession for the duration of this body — the catalog harnesses
    // (Verify/Bench) run queries strictly sequentially, so this is
    // latent only; a caller that shares a session across threads must
    // hand this body an isolated `s.newSession()` (same SparkContext,
    // cloned conf) so the graph-sized width never leaks to its peers.
    val estDirected = 2L * Tables.lineitem(s, dir).count()
    val width = graphShuffleWidth(s, estDirected).toString
    SessionConf.scoped(s, "spark.sql.shuffle.partitions" -> width)(pagerankShaped(s, dir))
  }

  private def pagerankShaped(s: SparkSession, dir: String): DataFrame = {
    val iters = 10
    // (A loop-scoped narrower shuffle width was tried here — 8 partitions
    // for the node-count-sized rank state — and measured SLOWER than the
    // session default at local[32]: the per-round join wants the full
    // thread width more than it minds empty partitions. Width stays the
    // session knob — which pagerankBody now sizes from the edge volume.)
    // lineage truncation: reliable checkpoint when a dir is configured
    // (an executor loss after truncation would otherwise lose the
    // blocks), cheap localCheckpoint in local mode — same trade as
    // Dedup.connectedComponents. The ~12 per-invocation checkpoint trees
    // (edges, nodes, 10 rounds) live in a Checkpoints.scoped subdir that
    // is deleted before pagerank returns — nothing survives the call.
    // AQE is toggled OFF around each checkpoint: under AQE the
    // checkpoint's LogicalRDD records UnknownPartitioning (the adaptive
    // wrapper hides the final plan's partitioning), which would force
    // every round to re-shuffle and re-sort the static edge table AND
    // the rank state. With it off, the checkpoint preserves
    // hash-partitioning + ordering, and each round's join runs with NO
    // exchange on either side (ranks exit the previous round's agg
    // already hash(node)-partitioned = hash(sn); edges are pre-sorted
    // by src) — the round's only shuffle is the node aggregation.
    // AQE's in-round value here is marginal (fixed-width long keys, no
    // skew-join rewrite for aggs), so the trade is one-sided.
    def trunc(df: DataFrame): DataFrame =
      SessionConf.scoped(s, "spark.sql.adaptive.enabled" -> "false") {
        if (s.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
        else df.localCheckpoint()
      }
    // BULK variant (r17 cliff 6): the edge and adjacency tables are
    // corpus-proportional (sf100: ~1.17B directed edges ≈ 19 GB
    // deserialized), and the default localCheckpoint storage
    // (MEMORY_AND_DISK, deserialized) UNROLLS each partition in unified
    // memory while the same stage's sortWithinPartitions is consuming
    // execution memory — at sf100 the two starved each other to
    // UNABLE_TO_ACQUIRE_MEMORY. Scan-once-per-round bulk state goes to
    // DISK_ONLY (serialized, incrementally written — no unroll pinning):
    // 10 sequential re-reads cost far less than the contention, and the
    // node-count-sized rank state keeps the fast in-memory default.
    def truncBulk(df: DataFrame): DataFrame =
      SessionConf.scoped(s, "spark.sql.adaptive.enabled" -> "false") {
        if (s.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
        else df.localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.DISK_ONLY)
      }
    // NO .distinct() here (r17 cliff 6, third lesson): a global distinct
    // plans a map-side partial hash aggregation whose per-task maps +
    // spill sorters, 32 concurrent, exhausted the heap at sf100's 600M
    // join outputs — for a ~2% reduction (587M of 600M pairs are already
    // unique; the fixture's id shifts make near-every pair distinct).
    // Dedup instead rides the adjacency build's OWN sort: after
    // repartition(src) + sortWithinPartitions(src, dst), duplicate
    // directed edges are ADJACENT, so a lag()-filter on the sorted
    // stream removes them with zero extra exchange, zero hash maps, and
    // memory bounded by one window frame. Same distinct-edge semantics,
    // bit-identical ranks.
    // SHUFFLE_HASH hint (r17 cliff 6, fourth lesson): the adjacency build
    // runs with AQE disabled (the checkpoint-partitioning trade above),
    // which also disables AQE's runtime SMJ→shuffled-hash-join
    // conversion — so the fact-fact join here planned as sort-merge and
    // paid TWO corpus-sized sorts (600M lineitem + 150M orders rows at
    // sf100) inside one stage. The hint's safety is no longer a knob
    // assumption (r17 ADVICE): pagerankBody derives the session width
    // from est ≈ 2·|lineitem| at ~5M directed edges/partition, and
    // |orders| = |lineitem|/4 = est/8, so the build side's per-task
    // hash map is ≈ 5M/8 ≈ 625k rows (~20 MB) AT EVERY SF by
    // construction — the static hint restores exactly the join AQE
    // would have chosen (streaming probe, no sorts) with a build slice
    // that cannot grow with the data.
    val pairs = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
          .hint("SHUFFLE_HASH"),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("p"))
    // The adjacency (and the node table derived from it) feeds every
    // round; its checkpoint materializes ONCE with truncated lineage so
    // the 10 unrolled rounds neither re-run the lineitem×orders lineage
    // nor re-analyze a growing plan. (A plain .cache() measured *slower*
    // than no cache at sf0.1: the pinned 32-partition blocks defeat
    // AQE's coalescing of these metadata-sized shuffles. See
    // Dedup.connectedComponents for the same pattern.) LogicalRDD
    // preserves outputPartitioning and outputOrdering, so the per-round
    // join against the checkpointed adjacency is exchange-free on both
    // sides. PlanShapeSpec pins the round shape: exactly one exchange
    // (the node aggregation), one sort (the rank side).
    //
    // one-pass bidirectional fan-out: a union of two projections embeds
    // the (expensive) join+distinct plan twice and computes it twice on
    // materialization — the narrow explode doubles rows in the same pass
    // (same fix as Dedup.connectedComponentsBody; measured at sf100 the
    // join is the dominant cost, so the union literally doubled it).
    //
    // NO separate edge-table checkpoint (r17 cliff 6, second lesson):
    // materializing 1.17B directed edges just to re-read them once for
    // the adjacency build wrote ~20 GB of checkpoint plus a full extra
    // repartition+sort — at sf100 that transient disk mass (on top of
    // the join/distinct/window shuffles) was the difference between
    // finishing and ENOSPC. The CSR adjacency IS the edge set in a
    // node-count-sized shape; everything downstream (degrees, node
    // table, the driver-path edge list, nDirected itself) derives from
    // it with narrow reads, so the edge relation is shuffled exactly
    // once (the repartition below — the message-passing floor) and
    // stored exactly once (the adjacency checkpoint).
    val edgeStream = pairs
      .select(explode(array(
        struct(col("c").as("src"), col("p").as("dst")),
        struct(col("p").as("src"), col("c").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("src"))
      // pre-sorted on (src, dst): the chunking window below needs exactly
      // this order, so it runs with no exchange and no extra sort
      .sortWithinPartitions(col("src"), col("dst"))
    // HYBRID, same stance as Dedup.connectedComponents: the iteration's
    // arithmetic is 64-bit integer fixed point — truncating division per
    // source, long sums per destination — which is ORDER-INDEPENDENT, so
    // a driver loop over a collected edge list produces bit-identical
    // ranks. The distributed loop pays ~0.6 s/round of join+agg+checkpoint
    // scheduling regardless of data size; the ENTITY graph here (distinct
    // customer—supplier pairs, bounded by the dim cross product, not the
    // fact table) fits the driver at fixture scale. Above the cap the
    // Pregel loop below takes over unchanged.
    // CSR-style adjacency: one row per (src, 64k-chunk of neighbors)
    // instead of one row per edge. The per-round contribution join then
    // touches node-count-sized inputs (the 12M-edge merge join was the
    // round's CPU floor) and the edge fan-out happens in a narrow
    // explode. Chunking bounds the array per row at 65 536 entries so a
    // celebrity node cannot materialize its whole adjacency in one
    // buffer at 100 TB; sum is order-independent so the chunk split
    // cannot perturb the fixed-point arithmetic.
    //
    // Plan shape of this one materialization: edgeStream exits the
    // repartition hash(src)-partitioned and (src, dst)-sorted, so the
    // window is exchange-free AND sort-free, and the (src, chunk)
    // aggregation satisfies its ClusteredDistribution via the subset
    // rule (hash(src) clusters (src, chunk)) — no second shuffle of the
    // edge relation. The final sortWithinPartitions orders the
    // node-count-sized RESULT rows only.
    val wSrc = Window.partitionBy(col("src")).orderBy(col("dst"))
    // adjacent-duplicate drop on the sorted stream (see the pairs comment)
    // — both window passes run exchange-free and sort-free over the
    // (src, dst)-sorted repartition output; the filter preserves that
    // order, so row_number's chunking sees exactly the distinct dsts
    val dedupEdges = edgeStream
      .withColumn("_prev", lag(col("dst"), 1).over(wSrc))
      .filter(col("_prev").isNull || col("_prev") =!= col("dst"))
      .drop("_prev")
    val adj = truncBulk(dedupEdges
      .withColumn("chunk", ((row_number().over(wSrc) - 1) / 65536).cast("int"))
      .groupBy(col("src"), col("chunk"))
      .agg(collect_list(col("dst")).as("dsts"))
      .sortWithinPartitions(col("src")))
    // degree from the ADJACENCY, not a second pass over the edge relation:
    // size(dsts) summed per src touches node-count-sized rows (already
    // hash(src)-partitioned — exchange-free)
    val deg = adj.groupBy(col("src"))
      .agg(sum(size(col("dsts"))).cast("long").as("deg"))
    val nDirected = deg.agg(sum(col("deg"))).head().getLong(0)
    val integralKeys = adj.schema("src").dataType match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType => true
      case _ => false
    }
    // count cap bounds driver CPU; the bytes gate (fraction of free
    // driver heap, key-width aware) bounds driver memory — see
    // core.DriverBudget scaladoc for the estimation model. The driver
    // path re-derives its edge list from the adjacency checkpoint (a
    // narrow explode — the join is never recomputed).
    lazy val edgesFromAdj = adj.select(col("src"), explode(col("dsts")).as("dst"))
    if (nDirected <= PagerankDriverEdgeThreshold && integralKeys &&
        graft.core.DriverBudget.fitsDriver(edgesFromAdj, nDirected))
      return driverPagerank(s, edgesFromAdj, iters)
    val nTotal = deg.agg(count(lit(1)).as("cnt"))
    val nodes = deg.crossJoin(broadcast(nTotal))
      .select(col("src").as("node"), col("deg"),
        expr("1000000000000 div cnt").as("init"))
      .withColumn("base", expr("(15 * init) div 100"))
      .transform(trunc)
    // Shuffle-minimal Pregel round: contributions (ranks ⋈ edges) are
    // UNIONED with a per-node carrier row holding the static attributes
    // (deg, base), and ONE dst-keyed aggregation produces the next rank
    // table — no join back to the node table. Per round: one join keyed
    // on src + one shuffle keyed on node; at 100 TB that is the floor
    // for message-passing (messages must reach their destination key).
    var ranks = nodes.select(col("node"), col("deg"), col("base"),
      col("init").as("r"))
    for (_ <- 1 to iters) {
      // ranks feeds BOTH branches of the union: truncate per round or the
      // dual reference doubles the recompute tree every iteration
      // (measured 6× slower unmaterialized)
      ranks = trunc(pagerankRound(ranks, adj))
    }
    ranks.select(col("node"), col("r").as("rank_fp"))
  }

  /** One Pregel round, exposed for the plan-shape pin: contributions
    * (ranks ⋈ adjacency on src, then a narrow explode of each chunk's
    * neighbor array) unioned with a per-node carrier row, folded by ONE
    * node-keyed aggregation. With `adj` pre-partitioned and pre-sorted
    * on src and ranks exiting the previous round's agg hash(node)-
    * partitioned (= hash(sn)), the join is exchange-free and the
    * round's only shuffle is the aggregation — the static adjacency is
    * never re-shuffled or re-sorted (PlanShapeSpec pins this).
    */
  private[graft] def pagerankRound(ranks: DataFrame, adj: DataFrame): DataFrame = {
    val contrib = ranks.select(col("node").as("sn"), expr("r div deg").as("v"))
      .join(adj, col("sn") === col("src"))
      .select(explode(col("dsts")).as("node"), col("v"), lit(false).as("isCarrier"),
        lit(null).cast("long").as("cdeg"), lit(null).cast("long").as("cbase"))
    val carriers = ranks.select(col("node"), lit(0L).as("v"),
      lit(true).as("isCarrier"), col("deg").as("cdeg"), col("base").as("cbase"))
    contrib.unionByName(carriers)
      .groupBy(col("node"))
      .agg(max(when(col("isCarrier"), col("cdeg"))).as("deg"),
        max(when(col("isCarrier"), col("cbase"))).as("base"),
        sum(when(!col("isCarrier"), col("v"))).as("sc"))
      .select(col("node"), col("deg"), col("base"),
        (col("base") + expr("(85 * coalesce(sc, 0)) div 100")).as("r"))
  }

  /** Driver fixed-point loop — replicates the distributed rounds'
    * integer arithmetic exactly: v(src) = r(src) div deg(src) once per
    * source, acc(dst) = Σ v over in-edges, r' = base + (85·acc) div 100.
    * Node ids are opaque map keys (original Spark type preserved in the
    * output schema).
    */
  private def driverPagerank(s: SparkSession, edges: DataFrame, iters: Int): DataFrame = {
    val keyType = edges.schema("src").dataType
    val rows = edges.select(col("src").cast("long"), col("dst").cast("long")).collect()
    val m = rows.length
    // dense-index the node ids once, then iterate over primitive arrays:
    // 10 rounds over a couple of million edges is tens of milliseconds,
    // vs HashMap-per-edge boxing that would eat the distributed savings
    val idx = new java.util.HashMap[java.lang.Long, Integer]()
    val ids = new scala.collection.mutable.ArrayBuffer[Long]()
    def internId(x: Long): Int = {
      val h = idx.get(x)
      if (h != null) h.intValue()
      else { val i = ids.length; idx.put(x, i); ids += x; i }
    }
    val srcIdx = new Array[Int](m)
    val dstIdx = new Array[Int](m)
    var i = 0
    while (i < m) {
      srcIdx(i) = internId(rows(i).getLong(0))
      dstIdx(i) = internId(rows(i).getLong(1))
      i += 1
    }
    val n = ids.length
    val deg = new Array[Long](n)
    i = 0; while (i < m) { deg(srcIdx(i)) += 1L; i += 1 }
    val init = 1000000000000L / n
    val base = (15L * init) / 100L
    var rank = Array.fill(n)(init)
    for (_ <- 1 to iters) {
      val v = new Array[Long](n)
      var j = 0
      // deg can be 0 for a node appearing only as dst (sink); it then
      // contributes nothing, matching the distributed loop where such a
      // node never produces a contribution row
      while (j < n) { v(j) = if (deg(j) > 0) rank(j) / deg(j) else 0L; j += 1 }
      val acc = new Array[Long](n)
      j = 0; while (j < m) { acc(dstIdx(j)) += v(srcIdx(j)); j += 1 }
      val next = new Array[Long](n)
      j = 0; while (j < n) { next(j) = base + (85L * acc(j)) / 100L; j += 1 }
      rank = next
    }
    val isInt = keyType == org.apache.spark.sql.types.IntegerType
    val out = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row](n)
    i = 0
    while (i < n) {
      val node: Any = if (isInt) ids(i).toInt else ids(i)
      out += org.apache.spark.sql.Row(node, rank(i))
      i += 1
    }
    s.createDataFrame(
      s.sparkContext.parallelize(out.toSeq, math.max(1, math.min(32, out.size / 50000 + 1))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node", keyType),
        org.apache.spark.sql.types.StructField("rank_fp",
          org.apache.spark.sql.types.LongType))))
  }

  private def pagerankOracle(iters: Int): String = {
    val head =
      """WITH pairs AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS p
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT c AS src, p AS dst FROM pairs UNION ALL SELECT p, c FROM pairs),
        |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM deg),
        |p0 AS (SELECT src AS node, deg,
        |              1000000000000 // cnt AS init,
        |              (15 * (1000000000000 // cnt)) // 100 AS base,
        |              1000000000000 // cnt AS r
        |       FROM deg, nn)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""p$i AS (SELECT b.node, b.deg, b.init, b.base,
         |  b.base + (85 * COALESCE(c.sc, 0)) // 100 AS r
         |  FROM p0 b LEFT JOIN (
         |    SELECT e.dst AS node, CAST(SUM(p.r // p.deg) AS BIGINT) AS sc
         |    FROM p${i - 1} p JOIN e ON e.src = p.node GROUP BY e.dst) c
         |  USING (node))""".stripMargin
    }.mkString(",\n")
    s"$head,\n$rounds\nSELECT node, r AS rank_fp FROM p$iters"
  }

  // --------------------------------------------------------- kNN classify

  /** k-NN auto-labeling (the evaluation/autolabel layer over the ANN
    * machinery): vectors with `vec_id % 5 == 0` are a held-out set,
    * classified by majority vote of their 5 nearest training neighbors
    * under the exact quantized-integer dot product; ties break to the
    * smaller label, neighbor ties to the smaller id.
    *
    * Scale shape: the eval set is broadcast (an eval/calibration set is
    * small by construction — this is NOT an all-pairs join), the
    * training corpus streams through one pass, and the per-query top-5
    * is a rank window that Spark's WindowGroupLimit rewrites into
    * map-side top-k partials before the single tid-keyed shuffle — no
    * executor ever holds more than 5 candidates per query per partition.
    * For corpus-scale query sets, the IVF path (q_ivf_probe) replaces
    * the broadcast; this operator is the exact-scoring twin.
    */
  def knnClassify(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id"),
      Similarity.quantize(col("embedding")).as("qv"), col("label"))
    val test = e.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id").as("tid"), col("qv").as("tq"), col("label").as("tlabel"))
    val train = e.filter(col("vec_id") % 5 =!= 0)
      .select(col("vec_id").as("nid"), col("qv").as("nq"), col("label").as("nlabel"))
    val scored = train.crossJoin(broadcast(test))
      .select(col("tid"), col("tlabel"), col("nid"), col("nlabel"),
        graft.functions.QDot.column(col("tq"), col("nq")).as("dot"))
    val wTop = Window.partitionBy(col("tid")).orderBy(col("dot").desc, col("nid"))
    val top5 = scored.withColumn("rn", row_number().over(wTop)).filter(col("rn") <= 5)
    top5.groupBy(col("tid"), col("tlabel"), col("nlabel"))
      .agg(count(lit(1)).as("votes"))
      .groupBy(col("tid"), col("tlabel"))
      .agg(max(struct(col("votes").as("v"), (-col("nlabel")).as("negl"))).as("win"))
      .select(col("tid").as("vec_id"), col("tlabel").as("label"),
        (-col("win.negl")).as("pred"))
      .withColumn("correct", (col("label") === col("pred")).cast("boolean"))
  }

  /** The corpus-scale twin of [[knnClassify]]: neighbors come from a
    * MATERIALIZED cell-partitioned IVF index instead of a broadcast
    * cross join. Candidates are restricted to each query's `nprobe`
    * nearest cells; the index side is read through a `cell isin` filter
    * that partition-prunes the scan (the probed-cell union here — spec
    * asserts real pruning at nprobe &lt; cells); only the (small) eval
    * set with its exploded probe cells broadcasts; the per-query top-5
    * is the same WindowGroupLimit map-side rank. At nprobe = all cells
    * the result is EXACT kNN — the DuckDB oracle recomputes it as
    * brute force — while production sets nprobe ≪ cells and pays only
    * the probed partitions. Eval split: vec_id % 4 (vs % 5 for the
    * broadcast twin), so the two rows gate different predictions.
    */
  def knnIvf(s: SparkSession, dir: String): DataFrame =
    knnIvfImpl(s, dir, nprobe = 8, evalPred = col("vec_id") % 4 === 0)

  private[graft] def knnIvfImpl(s: SparkSession, dir: String, nprobe: Int,
                                evalPred: Column): DataFrame = {
    val e = emb(s, dir).select(col("vec_id"), col("embedding"), col("label"))
    val train = e.filter(col("vec_id") % 4 =!= 0)
    val ivf = Ivf.Model.parse( // persist/restore path, same as ivfProbe
      Ivf.train(train, "vec_id", "embedding", k = 8, iters = 5).serialize)
    val path = Tmp.stagedOnce("knnivf", dir) { p =>
      Ivf.materialize(train, "vec_id", "embedding", ivf, p)
      p
    }
    val evalPts = Ivf.assignProbes(e.filter(evalPred),
        "embedding", ivf, nprobe = nprobe)
      .select(col("vec_id").as("tid"),
        Similarity.quantize(col("embedding")).as("tq"),
        col("label").as("tlabel"), explode(col("probe_cells")).as("cell"))
    // distinct probe cells of the eval set: scalar-sized collect (≤ the
    // cell count) that becomes the partition-pruning isin on the index
    val probeCells = evalPts.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val idxQ = s.read.parquet(path)
      .filter(col("cell").isin(probeCells: _*))
      .select(col("cell"), col("vec_id").as("nid"), col("label").as("nlabel"),
        Similarity.quantize(col("embedding")).as("nq"))
    val scored = idxQ.join(broadcast(evalPts), "cell")
      .select(col("tid"), col("tlabel"), col("nid"), col("nlabel"),
        graft.functions.QDot.column(col("tq"), col("nq")).as("dot"))
    val wTop = Window.partitionBy(col("tid")).orderBy(col("dot").desc, col("nid"))
    val top5 = scored.withColumn("rn", row_number().over(wTop)).filter(col("rn") <= 5)
    top5.groupBy(col("tid"), col("tlabel"), col("nlabel"))
      .agg(count(lit(1)).as("votes"))
      .groupBy(col("tid"), col("tlabel"))
      .agg(max(struct(col("votes").as("v"), (-col("nlabel")).as("negl"))).as("win"))
      .select(col("tid").as("vec_id"), col("tlabel").as("label"),
        (-col("win.negl")).as("pred"))
      .withColumn("correct", (col("label") === col("pred")).cast("boolean"))
  }

  /** Brute-force kNN oracle, parametrized by the eval-split modulus (the
    * two kNN rows share vote/tie algebra but gate different splits).
    */
  // quantize each embedding ONCE into a BIGINT list and take pairwise
  // list_inner_product: the test x train cross join stays |t|*|tr| rows
  // (the unnest-by-64 + re-group formulation is |t|*|tr|*64 rows that
  // DuckDB must hash-aggregate — ~5e9 at sf1, it spilled past 80 GB).
  // Integer dots are <= 64 * 1e6 * 1e6 = 6.4e13 < 2^53, so the DOUBLE
  // the function returns is exact and the BIGINT cast is lossless.
  private def knnOracleFor(mod: Int): String =
    s"""WITH t AS (SELECT vec_id, label,
      |      list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qe
      |    FROM embeddings WHERE vec_id % $mod = 0),
      |tr AS (SELECT vec_id, label,
      |      list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qe
      |    FROM embeddings WHERE vec_id % $mod <> 0),""".stripMargin +
      knnOracleTail

  private val knnOracleTail: String =
    """
      |dots AS (
      |  SELECT t.vec_id AS tid, t.label AS tlabel, tr.vec_id AS nid, tr.label AS nlabel,
      |    CAST(list_inner_product(t.qe, tr.qe) AS BIGINT) AS dot
      |  FROM t, tr),
      |top5 AS (SELECT tid, tlabel, nid, nlabel,
      |  row_number() OVER (PARTITION BY tid ORDER BY dot DESC, nid) AS rn FROM dots),
      |votes AS (SELECT tid, tlabel, nlabel, COUNT(*) AS votes
      |  FROM top5 WHERE rn <= 5 GROUP BY tid, tlabel, nlabel),
      |pick AS (SELECT tid, tlabel, nlabel,
      |  row_number() OVER (PARTITION BY tid ORDER BY votes DESC, nlabel) AS pr FROM votes)
      |SELECT tid AS vec_id, tlabel AS label, nlabel AS pred, (tlabel = nlabel) AS correct
      |FROM pick WHERE pr = 1""".stripMargin

  private val knnOracle: String = knnOracleFor(5)

  // ----------------------------------------------------- stratified split

  /** Deterministic stratified train/val/test split: within each
    * (source, lang) stratum, documents are ranked by content hash (so
    * the split is reproducible from the data alone — no RNG state to
    * persist) and assigned 10% test / 10% val / 80% train by rank
    * modulus, which hits the target proportions exactly per stratum,
    * not just in expectation. Output is the per-stratum split manifest.
    *
    * Scale shape: one shuffle keyed by stratum for the rank window, one
    * map-side-combined aggregate. A skewed stratum serializes its rank
    * scan; at corpus scale where exact proportions stop mattering, the
    * gate `md5(text) % 10` does the same split with ZERO shuffles —
    * this operator is the exact-proportion form.
    */
  def stratifiedSplit(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source"), col("lang"))
      .orderBy(col("h"), col("doc_id"))
    docs(s, dir)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        md5(col("text")).as("h"))
      .withColumn("rn", row_number().over(w))
      .withColumn("split",
        when(col("rn") % 10 === 1, "test")
          .when(col("rn") % 10 === 2, "val")
          .otherwise("train"))
      .groupBy(col("source"), col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"),
        min(col("doc_id")).as("first_doc"))
  }

  private val splitOracle: String =
    """WITH ranked AS (
      |  SELECT doc_id, source, lang, n_chars,
      |    row_number() OVER (PARTITION BY source, lang
      |                       ORDER BY md5(text), doc_id) AS rn
      |  FROM documents),
      |tagged AS (
      |  SELECT *, CASE WHEN rn % 10 = 1 THEN 'test'
      |                 WHEN rn % 10 = 2 THEN 'val'
      |                 ELSE 'train' END AS split
      |  FROM ranked)
      |SELECT source, lang, split,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
      |  MIN(doc_id) AS first_doc
      |FROM tagged GROUP BY source, lang, split""".stripMargin

  // ---------------------------------------------------------------- wiring

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pagerank" -> (pagerank _),
    "q_knn_classify" -> (knnClassify _),
    "q_knn_ivf" -> (knnIvf _),
    "q_stratified_split" -> (stratifiedSplit _))

  def oracleSql: Map[String, String] = Map(
    "q_pagerank" -> pagerankOracle(10),
    "q_knn_classify" -> knnOracle,
    "q_knn_ivf" -> knnOracleFor(4),
    "q_stratified_split" -> splitOracle)
}
