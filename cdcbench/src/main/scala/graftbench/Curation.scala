package graftbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analytics.Dedup

/** `curation_dedup`: closed loop, one client, over one batch job — the
  * `q_dedup_pipeline` composition: `Dedup.lshBandKeys` (MinHash over
  * 8-character shingles, 8 hashes, 2 bands of 4) → `Dedup.lshVerifiedPairs`
  * (Jaccard ≥ 0.5) → `Dedup.dupClusters`. The corpus has planted
  * near-duplicate clusters: Zipf cluster sizes, one cluster whose buckets
  * exceed the LSH bucket cap, a fixed per-token edit rate. No CDC layer is touched, so
  * this workload is the no-change control for the CDC layers and onboard
  * is the control for these.
  */
final class CurationDedup extends Workload {
  import Curation._

  def params: Map[String, Any] = Map(
    "loop" -> "closed", "clients" -> 1, "docs" -> Docs, "vocabulary" -> Vocab,
    "edit_rate" -> EditRate,
    "clusters" -> Map("count" -> Clusters, "largest" -> TopCluster, "zipf_s" -> ClusterZipfS,
      "giant" -> GiantCluster, "bucket_cap" -> BucketCap),
    "floors" -> Map("recall" -> RecallFloor, "precision" -> PrecisionFloor))

  private var corpus: Vector[Gen.Doc] = Vector.empty
  /** The clusters the pipeline should find, built in plain Scala from the
    * corpus alone at the first check; the seed, hence the corpus, is the
    * same in every set-up round.
    */
  private var reference: Option[Reference] = None

  private def path(ctx: Ctx) = ctx.work.resolve("corpus.parquet").toString
  private def docs(ctx: Ctx): DataFrame = ctx.spark.read.parquet(path(ctx))

  override def prepare(ctx: Ctx): Unit = {
    import ctx.spark.implicits._
    corpus = Gen.corpus(ctx.seed, Docs, Clusters, TopCluster, ClusterZipfS, GiantCluster, EditRate, Vocab)
    corpus.map(d => (d.id, d.text)).toDF("doc_id", "text")
      .repartition(ctx.cores).write.mode("overwrite").parquet(path(ctx))
  }

  def run(ctx: Ctx, i: Int, check: Boolean): Sample = {
    val t0 = System.nanoTime()
    val clusters = ctx.tracer.span("analytics.dupClusters") {
      Dedup.dupClusters(verified(docs(ctx))).collect()
        .map(r => (r.getAs[Long]("component"), r.getAs[Long]("n_docs"), r.getAs[Long]("keep_id"))).toSeq
    }
    val opS = (System.nanoTime() - t0) / 1e9
    Workload.release(ctx.spark)
    ctx.tracer.count("curation.docs", Docs)
    if (!check) return Sample(Docs, 0L, Docs / opS, opS * 1000)
    val ref = reference.getOrElse(ctx.tracer.span("check") { Reference(corpus) })
    reference = Some(ref)
    val (recall, precision) = ref.score(clusters.map { case (_, n, keep) => (n, keep) })
    val distinct = clusters.map(_._1).distinct.size == clusters.size &&
      clusters.map(_._3).distinct.size == clusters.size
    val failed = if (distinct && recall >= RecallFloor && precision >= PrecisionFloor) 0L else Docs.toLong
    Sample(Docs, failed, Docs / opS, opS * 1000,
      layers = Map("analytics.recall" -> recall, "analytics.precision" -> precision))
  }

  /** Stage by stage: band keys, candidate and verified pairs, clusters. */
  def probes(ctx: Ctx): (Map[String, Double], Long) = {
    val spark = ctx.spark
    import spark.implicits._
    val rounds = (0 until ProbeRounds).map { _ =>
      val d = docs(ctx)
      val bandS = Workload.timedS(Workload.noop(bandKeys(d)))
      val bk = bandKeys(d).persist()
      val maxBucket = bk.groupBy("band", "band_key").count().agg(max("count")).head().getLong(0)
      val candidates = Dedup.lshCandidatePairs(bk, "doc_id", BucketCap).count()
      var pairs: Seq[(Long, Long)] = Seq.empty
      val verifyS = Workload.timedS {
        pairs = Dedup.lshVerifiedPairs(bk, d, "doc_id", col("text"), k = ShingleK, maxBucket = BucketCap)
          .filter(col("jaccard") >= MinJaccard).select("doc_a", "doc_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
      }
      val clustersS = Workload.timedS(Workload.noop(Dedup.dupClusters(pairs.toDF("doc_a", "doc_b"))))
      Workload.release(spark)
      Map("functions.band_keys_s" -> bandS, "analytics.verify_s" -> verifyS,
        "analytics.clusters_s" -> clustersS, "analytics.candidate_pairs" -> candidates.toDouble,
        "analytics.verified_pairs" -> pairs.size.toDouble,
        "analytics.verify_yield" -> pairs.size.toDouble / math.max(1L, candidates),
        "analytics.max_bucket" -> maxBucket.toDouble)
    }
    (rounds.head.keys.map(k => k -> Workload.median(rounds.map(_(k)))).toMap, 0L)
  }
}

object Curation {
  val Docs = 4000
  val Clusters = 100
  val TopCluster = 40
  val ClusterZipfS = 1.0
  /** Large enough that its members sharing the base's band key (about
    * 250) always exceed [[BucketCap]], so the cap drops those buckets on
    * every seed rather than on some.
    */
  val GiantCluster = 400
  /** `lshVerifiedPairs` bucket cap, scaled to the corpus (the catalog's
    * 1000 is sized for its larger corpora).
    */
  val BucketCap = 100
  val EditRate = 0.05
  val Vocab = 5000
  val RecallFloor = 0.65
  val PrecisionFloor = 0.99
  val ProbeRounds = 3
  val ShingleK = 8
  val MinJaccard = 0.5

  def bandKeys(d: DataFrame): DataFrame =
    Dedup.lshBandKeys(d, "doc_id", col("text"), k = ShingleK, numHashes = 8, rowsPerBand = 4)

  def verified(d: DataFrame): DataFrame =
    Dedup.lshVerifiedPairs(bandKeys(d), d, "doc_id", col("text"), k = ShingleK, maxBucket = BucketCap)
      .filter(col("jaccard") >= MinJaccard)
      .select(col("doc_a"), col("doc_b"))

  /** Character shingles as `Dedup.shingles` cuts them (every substring
    * of [[ShingleK]] characters, the whole text when shorter), hashed to
    * 64 bits, distinct and sorted.
    */
  def shingleSet(text: String): Array[Long] = {
    val n = math.max(1, text.length - (ShingleK - 1))
    val hs = Array.tabulate(n) { i =>
      val sh = text.substring(i, math.min(text.length, i + ShingleK))
      (MurmurHash3.stringHash(sh, 0x1b873593).toLong << 32) | (MurmurHash3.stringHash(sh, 0x5bd1e995) & 0xffffffffL)
    }
    java.util.Arrays.sort(hs)
    hs.distinct
  }

  def jaccard(a: Array[Long], b: Array[Long]): Double = {
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    inter.toDouble / (a.length + b.length - inter)
  }

  /** The clusters an exact pipeline finds, computed in plain Scala without
    * the system's code: exact shingle Jaccard for every pair of documents
    * planted in the same cluster, an edge at ≥ [[MinJaccard]], union-find
    * over the edges. Pairs across planted clusters or with unplanted
    * documents are not compared: their texts are independent draws.
    *
    * @param component doc id → lowest doc id of its cluster, for clustered docs
    * @param size      cluster (lowest doc id) → number of documents
    * @param inCap     clusters planted no larger than [[BucketCap]]
    */
  final case class Reference(component: Map[Long, Long], size: Map[Long, Int], inCap: Set[Long]) {

    /** Recall and precision of one `dupClusters` result, given as
      * (n_docs, keep_id) per cluster, counted in duplicates removed
      * (`n_docs` − 1 per cluster). A result cluster is precise when its
      * keeper lies in a reference cluster and the result clusters kept
      * from that reference cluster hold no more documents than it does.
      * Recall counts the precise removals in reference clusters within
      * the bucket cap against all removals those clusters allow: buckets
      * above the cap are left out of pair generation by design (a hot
      * bucket is handled as a cluster by `Dedup.lshBuckets`).
      */
    def score(result: Seq[(Long, Long)]): (Double, Double) = {
      var precise, imprecise, recalled = 0L
      result.groupBy { case (_, keep) => component.get(keep) }.foreach {
        case (Some(c), rs) if rs.map(_._1).sum <= size(c) =>
          val removed = rs.map(_._1 - 1).sum
          precise += removed
          if (inCap(c)) recalled += removed
        case (_, rs) => imprecise += rs.map(_._1 - 1).sum
      }
      val allowed = inCap.toSeq.map(c => size(c) - 1L).sum
      (recalled.toDouble / math.max(1L, allowed),
        if (precise + imprecise == 0) 1.0 else precise.toDouble / (precise + imprecise))
    }
  }

  object Reference {
    def apply(corpus: Vector[Gen.Doc]): Reference = {
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      val planted = corpus.filter(_.cluster >= 0).groupBy(_.cluster)
      planted.values.foreach { ds =>
        val sets = ds.map(d => d.id -> shingleSet(d.text))
        for (i <- sets.indices; j <- i + 1 until sets.size
             if jaccard(sets(i)._2, sets(j)._2) >= MinJaccard) {
          val (a, b) = (find(sets(i)._1), find(sets(j)._1))
          if (a != b) parent(math.max(a, b)) = math.min(a, b)
        }
      }
      val members = parent.keys.toSeq.groupBy(find).map { case (root, ms) => root -> (ms.toSet + root) }
      val component = members.flatMap { case (root, ms) => ms.map(_ -> root) }
      val capped = planted.collect { case (_, ds) if ds.size <= BucketCap => ds.map(_.id).toSet }.flatten.toSet
      Reference(component, members.map { case (root, ms) => root -> ms.size },
        members.keySet.filter(capped.contains))
    }
  }
}
