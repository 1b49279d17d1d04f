package graft

import org.apache.spark.sql.functions._

import graft.analytics.{Pq, Similarity}
import graft.core.Tables

/** Product-quantization invariants: deterministic training, code range,
  * exhaustive-ADC equality with brute force, and candidate recall.
  */
class PqSpec extends SparkSuite {

  private lazy val e = Tables.embeddings(spark, sf0001)

  test("training is deterministic across repartitionings") {
    val m1 = Pq.train(e, col("vec_id"), col("embedding"), k = 8, iters = 3)
    val m2 = Pq.train(e.repartition(7, col("vec_id")), col("vec_id"), col("embedding"),
      k = 8, iters = 3)
    assert(m1.books === m2.books)
  }

  test("codes are one per subspace, in [0, k)") {
    val m = Pq.train(e, col("vec_id"), col("embedding"), k = 8, iters = 2)
    val codes = Pq.encode(e, col("vec_id"), col("embedding"), m)
    val rows = codes.collect()
    assert(rows.length === e.count())
    rows.foreach { r =>
      val cs = r.getSeq[Int](r.fieldIndex("codes"))
      assert(cs.length === m.numSub)
      assert(cs.forall(c => c >= 0 && c < m.k))
    }
  }

  test("exhaustive candidates == brute-force top-k (re-rank correctness)") {
    val m = Pq.train(e, col("vec_id"), col("embedding"), k = 8, iters = 2)
    val corpus = e.filter(col("vec_id") =!= 0)
    val codes = Pq.encode(corpus, col("vec_id"), col("embedding"), m)
    val query = e.filter(col("vec_id") === 0)
      .select(Similarity.quantize(col("embedding")).as("q"))
      .collect()(0).getAs[Seq[Long]]("q").toIndexedSeq
    val n = codes.count().toInt
    val pq = Pq.searchTopK(corpus, col("vec_id"), col("embedding"), codes, m, query, n, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val exact = corpus
      .select(col("vec_id"),
        Similarity.dotQ(Similarity.quantize(col("embedding")), typedLit(query)).as("dot"))
      .orderBy(col("dot").desc, col("vec_id")).limit(10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pq === exact)
  }

  test("IVF-PQ: full-probe equals brute force; partial probe prunes partitions") {
    import graft.analytics.Ivf
    val ivf = Ivf.train(e, "vec_id", "embedding", k = 8, iters = 5)
    val m = Pq.train(e, col("vec_id"), col("embedding"), k = 16, iters = 4)
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivfpq_spec"
    Pq.materializeIvfPq(e, col("vec_id"), col("embedding"), ivf, m, path)
    val query = e.filter(col("vec_id") === 0)
      .select(Similarity.quantize(col("embedding")).as("q"))
      .collect()(0).getAs[Seq[Long]]("q").toIndexedSeq
    val n = e.count().toInt
    // nprobe = all cells, candidates = corpus → exhaustive == brute force
    val full = Pq.probeIvfPq(spark, path, ivf, m, query, nprobe = 8,
        candidates = n, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val exact = e
      .select(col("vec_id"),
        Similarity.dotQ(Similarity.quantize(col("embedding")), typedLit(query)).as("dot"))
      .orderBy(col("dot").desc, col("vec_id")).limit(10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(full === exact)
    // partial probe: the scan must read at most nprobe cell partitions
    val nprobe = 3
    val df = Pq.probeIvfPq(spark, path, ivf, m, query, nprobe, candidates = 50, k = 10)
    df.collect()
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(q.plan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    val scan = scans(df.queryExecution.executedPlan)
    assert(scan.nonEmpty)
    scan.foreach { sc =>
      val parts = sc.metrics("numPartitions").value
      assert(parts > 0 && parts <= nprobe, s"scan read $parts partitions, expected <= $nprobe")
    }
  }

  test("ADC candidate recall: half-corpus candidates keep most of the exact top-10") {
    val m = Pq.train(e, col("vec_id"), col("embedding"), k = 16, iters = 5)
    val corpus = e.filter(col("vec_id") =!= 0)
    val codes = Pq.encode(corpus, col("vec_id"), col("embedding"), m)
    val query = e.filter(col("vec_id") === 0)
      .select(Similarity.quantize(col("embedding")).as("q"))
      .collect()(0).getAs[Seq[Long]]("q").toIndexedSeq
    val n = codes.count().toInt
    val exactIds = corpus
      .select(col("vec_id"),
        Similarity.dotQ(Similarity.quantize(col("embedding")), typedLit(query)).as("dot"))
      .orderBy(col("dot").desc, col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    val candIds = Pq.adcCandidates(codes, m, query, n / 2)
      .collect().map(_.getLong(0)).toSet
    val recall = exactIds.intersect(candIds).size.toDouble / exactIds.size
    assert(recall >= 0.8, s"ADC recall@${n / 2} = $recall")
  }

  test("native PqEncode codes == composed assignExpr codes (bit parity)") {
    val e = Tables.embeddings(spark, sf0001)
    val m = Pq.train(e, col("vec_id"), col("embedding"), k = 16, iters = 3)
    val native = Pq.encode(e, col("vec_id"), col("embedding"), m)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    val composed = Pq.encodeComposed(e, col("vec_id"), col("embedding"), m)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    assert(native == composed)
  }

  test("concurrent encodes with different models on one session keep their own codebooks") {
    val e = Tables.embeddings(spark, sf0001)
    val models = Seq(4 -> 2, 16 -> 3).map { case (k, iters) =>
      Pq.train(e, col("vec_id"), col("embedding"), k = k, iters = iters)
    }
    assert(models(0).books != models(1).books)
    def codes(df: org.apache.spark.sql.DataFrame): Map[Long, List[Int]] =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    // both threads build, analyze and run their plans while the other is
    // in flight; each must come back with its own model's codes
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futures = models.map { m =>
        pool.submit(new java.util.concurrent.Callable[Seq[Map[Long, List[Int]]]] {
          def call(): Seq[Map[Long, List[Int]]] = {
            start.await()
            (1 to 3).map(_ => codes(Pq.encode(e, col("vec_id"), col("embedding"), m)))
          }
        })
      }
      start.countDown()
      models.zip(futures).foreach { case (m, f) =>
        val want = codes(Pq.encodeComposed(e, col("vec_id"), col("embedding"), m))
        assert(f.get(5, java.util.concurrent.TimeUnit.MINUTES).forall(_ == want))
      }
    } finally pool.shutdownNow()
  }

  test("native encode is a narrow scan (no exchange in the encode plan)") {
    val e = Tables.embeddings(spark, sf0001)
    val m = Pq.train(e, col("vec_id"), col("embedding"), k = 16, iters = 3)
    val df = Pq.encode(e, col("vec_id"), col("embedding"), m)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), "encode must not shuffle:\n" + p.take(2000))
  }
}
