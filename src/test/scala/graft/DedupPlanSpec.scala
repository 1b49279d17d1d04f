package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._

import graft.analytics.Dedup
import graft.functions.{MinHashSignature, ShingleSet, SimHash}

/** The dedup pipeline as one query: `lshVerifiedPairs` references each
  * intermediate once (no pin, one MinHash and one set build, one bucket
  * exchange read by both join sides), and `dupClusters` summarises
  * driver-path clusters where the labels are. The other LSH pair builders
  * (`lshCandidatePairs`, `simhashCandidatePairs`, `ngramJaccard`,
  * `q_lsh_recall`) hold no pin either: each shared subtree runs once.
  */
class DedupPlanSpec extends SparkSuite {
  import spark.implicits._

  /** Every node of `p`, descending into AQE wrappers, query stages and
    * cached relations (all leaves to `collect`), but not into a reused
    * exchange's original.
    */
  private def expand(p: SparkPlan): Seq[SparkPlan] = p.collect { case q => q }.flatMap {
    case a: AdaptiveSparkPlanExec => a +: expand(a.executedPlan)
    case s: QueryStageExec => s +: expand(s.plan)
    case s: InMemoryTableScanExec => s +: expand(s.relation.cachedPlan)
    case q => Seq(q)
  }

  private def evaluating(nodes: Seq[SparkPlan], cls: Class[_]): Seq[SparkPlan] =
    nodes.filter(_.expressions.exists(_.find(e => cls.isInstance(e)).isDefined))

  /** Collects `df`, then asserts of its executed adaptive plan: no cached
    * scan, exactly one node evaluating each of `kernels`, and a reused
    * exchange (the shared subtree computed once, read by every consumer).
    */
  private def assertSharedOnce(df: DataFrame, kernels: Class[_]*): Unit = {
    df.collect()
    val nodes = expand(df.queryExecution.executedPlan)
    val plan = nodes.head.toString.take(6000)
    assert(!nodes.exists(_.isInstanceOf[InMemoryTableScanExec]), plan)
    kernels.foreach(k => assert(evaluating(nodes, k).size == 1, s"${k.getSimpleName}: $plan"))
    assert(nodes.exists(_.isInstanceOf[ReusedExchangeExec]), plan)
  }

  private def bandKeys(docs: DataFrame): DataFrame =
    Dedup.lshBandKeys(docs, "doc_id", col("text"), k = 8, numHashes = 8, rowsPerBand = 4)

  private def verified(docs: DataFrame): DataFrame =
    Dedup.lshVerifiedPairs(bandKeys(docs), docs, "doc_id", col("text"), k = 8)
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"))

  test("dedup pipeline is one query: at most 9 jobs, one MinHash and one set build, no pin") {
    val docs = graft.core.Tables.documents(spark, sf0001)
    val (clusters, jobs) = JobCount(spark, group = None)(Dedup.dupClusters(verified(docs)).collect())
    assert(clusters.nonEmpty)
    assert(Dedup.lastPathDriver, "sf0.001's pairs fit the driver")
    assert(jobs <= 9, s"$jobs jobs")
    // both sides of the bucket self-join read one exchange
    assertSharedOnce(verified(docs), classOf[MinHashSignature], classOf[ShingleSet])
  }

  test("lshCandidatePairs: no pin, one MinHash node, both join sides on one reused exchange") {
    val docs = graft.core.Tables.documents(spark, sf0001)
    assertSharedOnce(Dedup.lshCandidatePairs(bandKeys(docs), "doc_id"), classOf[MinHashSignature])
  }

  test("simhashCandidatePairs: no pin, one SimHash node, both join sides on one reused exchange") {
    val docs = graft.core.Tables.documents(spark, sf0001)
    val sigs = Dedup.simhashNative(docs, "doc_id", col("text"), bits = 16)
    assertSharedOnce(Dedup.simhashCandidatePairs(sigs, "doc_id", bits = 16, maxDist = 3),
      classOf[SimHash])
  }

  test("ngramJaccard: no pin, one set build, read by both pair joins through a reused exchange") {
    val docs = graft.core.Tables.documents(spark, sf0001)
    val pairs = docs.select(col("doc_id").as("doc_a"))
      .join(docs.select((col("doc_id") - 1).as("doc_a"), col("doc_id").as("doc_b")), "doc_a")
    assertSharedOnce(Dedup.ngramJaccard(pairs, docs, "doc_id", col("text"), k = 8),
      classOf[ShingleSet])
    // the shuffle-join plan of a corpus too large to broadcast
    graft.core.SessionConf.scoped(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      assertSharedOnce(Dedup.ngramJaccard(pairs, docs, "doc_id", col("text"), k = 8),
        classOf[ShingleSet])
    }
  }

  test("q_lsh_recall: no pin, one MinHash and one set build, the universe read through reused exchanges") {
    assertSharedOnce(QueriesAnalytics.lshRecall(spark, sf0001),
      classOf[MinHashSignature], classOf[ShingleSet])
  }

  test("a persisted bandKeys yields the same pairs as the file-input run") {
    val docs = graft.core.Tables.documents(spark, sf0001)
    def rows(bk: DataFrame) = Dedup.lshVerifiedPairs(bk, docs, "doc_id", col("text"), k = 8)
      .select("doc_a", "doc_b", "inter", "n_a", "n_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    def candidates(bk: DataFrame) = Dedup.lshCandidatePairs(bk, "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fromFile = rows(bandKeys(docs))
    assert(fromFile.nonEmpty)
    val cached = bandKeys(docs).persist()
    try {
      assert(rows(cached) == fromFile)
      assert(candidates(cached) == candidates(bandKeys(docs)))
    } finally cached.unpersist(blocking = true)
  }

  test("bucket edges: sizes 2 and maxBucket pair up, maxBucket + 1 does not, a two-band pair once") {
    val text = Map(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy cat",
      3L -> "pack my box with five dozen liquor jugs now",
      4L -> "pack my box with five dozen liquor jugs today",
      5L -> "zzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzz",
      6L -> "sphinx of black quartz judge my vow tonight",
      7L -> "sphinx of black quartz judge my vow tomorrow",
      8L -> "how vexingly quick daft zebras jump at dawn",
      9L -> "how vexingly quick daft zebras jump at dusk")
    val docs = text.toSeq.toDF("doc_id", "text")
    val maxBucket = 3
    val bandKeys = Seq(
      // band 0: a bucket of 2, one of maxBucket, one of maxBucket + 1
      (1L, 0, "a"), (2L, 0, "a"),
      (3L, 0, "b"), (4L, 0, "b"), (5L, 0, "b"),
      (6L, 0, "c"), (7L, 0, "c"), (8L, 0, "c"), (9L, 0, "c"),
      // band 1: (1, 2) collides again; (6, 7) pairs here only
      (1L, 1, "a"), (2L, 1, "a"),
      (3L, 1, "x3"), (4L, 1, "x4"), (5L, 1, "x5"),
      (6L, 1, "d"), (7L, 1, "d"), (8L, 1, "x8"), (9L, 1, "x9"))
      .toDF("doc_id", "band", "band_key")
    val got = Dedup.lshVerifiedPairs(bandKeys, docs, "doc_id", col("text"), k = 8, maxBucket)
      .select("doc_a", "doc_b", "inter", "n_a", "n_b")
    val rows = got.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // (3, 5) and (4, 5) share no shingle, so the inter > 0 filter drops them
    assert(rows.map(r => (r._1, r._2)).sorted.toSeq == Seq((1L, 2L), (3L, 4L), (6L, 7L)))
    // the statistics equal the lshCandidatePairs + array_intersect replay
    val sets = Dedup.shingles(docs, "doc_id", col("text"), 8)
      .groupBy(col("doc_id"))
      .agg(collect_set(xxhash64(col("shingle"))).as("ss"))
    val ref = Dedup.lshCandidatePairs(bandKeys, "doc_id", maxBucket)
      .join(sets.select(col("doc_id").as("doc_a"), col("ss").as("ss_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("ss").as("ss_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("ss_a"), col("ss_b"))).cast("long").as("inter"),
        size(col("ss_a")).cast("long").as("n_a"),
        size(col("ss_b")).cast("long").as("n_b"))
      .filter(col("inter") > 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.sorted.toSeq == ref.sorted.toSeq)
  }

  /** Components of `pairs` with `rows` as the driver row cap. */
  private def withThreshold(rows: Long)(pairs: DataFrame) = Dedup.components(pairs, driverRows = rows)

  test("CC threshold: rowCap rows take the driver, rowCap + 1 the distributed loop, same labels") {
    val pairs = Seq((7L, 3L), (3L, 9L), (9L, 1L), (50L, 40L), (40L, 60L), (100L, 101L))
      .toDF("doc_a", "doc_b")
    val n = pairs.count()
    def labels(rows: Long) = withThreshold(rows)(pairs).fold(_.labels, identity)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val atCap = labels(n)
    assert(Dedup.lastPathDriver, s"$n rows at rowCap $n: driver expected")
    val overCap = labels(n - 1)
    assert(!Dedup.lastPathDriver, s"$n rows at rowCap ${n - 1}: distributed expected")
    assert(atCap == overCap)
    assert(atCap == Set((1L, 1L), (3L, 1L), (7L, 1L), (9L, 1L),
      (40L, 40L), (50L, 40L), (60L, 40L), (100L, 100L), (101L, 100L)))
    val clustersOverCap = Dedup.clusters(withThreshold(n - 1)(pairs)).collect()
    assert(!Dedup.lastPathDriver)
    val clustersAtCap = Dedup.clusters(withThreshold(n)(pairs)).collect()
    assert(Dedup.lastPathDriver)
    assert(clustersAtCap.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
      clustersOverCap.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
  }

  test("driver-path dupClusters is a local relation: collecting it runs no job") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val clusters = Dedup.dupClusters(pairs)
    assert(Dedup.lastPathDriver)
    val (rows, jobs) = JobCount(spark, group = None)(clusters.collect())
    assert(jobs == 0, s"$jobs jobs")
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
      Set((1L, 3L, 1L), (10L, 2L, 10L)))
  }
}
