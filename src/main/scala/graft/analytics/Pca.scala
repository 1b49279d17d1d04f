package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed PCA for embedding columns — the dimensionality-reduction /
  * whitening step a curation pipeline runs before clustering or ANN
  * indexing at scale.
  *
  * Scale shape: the ONLY distributed pass is one
  * [[graft.functions.VecOuterSum]] aggregation (map-side partial, fixed
  * d(d+1)/2+d+1-long buffer per task — nothing shuffled but buffers;
  * the same moments back the oracle-gated q_embed_covariance row). The
  * d x d covariance eigendecomposition is driver-side cyclic Jacobi —
  * O(d^3) on a d=64..4096 matrix is driver-trivial and independent of
  * corpus size, the same bounded-driver-work stance as IVF's 10k-sample
  * k-means. Projection is per-row integer work via the native
  * [[graft.functions.QDot]] expression against quantized, SIGN-CANONICAL
  * components (largest-|weight| entry positive), so the whole transform
  * is deterministic and never leaves whole-stage-friendly execution.
  */
object Pca {

  /** Sign-canonical principal components, eigenvalues sorted descending.
    * `components(k)(i)` = weight of input dim i in component k; `mean`
    * in input (unquantized) units; eigenvalues in covariance units.
    */
  final case class Model(d: Int, n: Long, mean: Array[Double],
                         eigenvalues: Array[Double],
                         components: Array[Array[Double]])

  /** One distributed pass: the exact integer moment array of the
    * quantized vectors ([tri sums of products, per-dim sums, count]).
    */
  def moments(emb: DataFrame, vec: Column, d: Int): Array[Long] = {
    val row = emb.select(Similarity.quantize(vec).as("q"))
      .agg(graft.functions.VecOuterSum.column(col("q"), d).as("m"))
      .head()
    row.getAs[scala.collection.Seq[Long]]("m").toArray
  }

  /** Covariance + Jacobi eigen from the moment array (pure driver math,
    * deterministic: fixed sweep order, fixed tolerance, canonical sign).
    */
  def train(emb: DataFrame, vec: Column, d: Int): Model = {
    val m = moments(emb, vec, d)
    val tri = d * (d + 1) / 2
    val n = m(tri + d)
    require(n > 1, s"PCA needs >= 2 rows, got $n")
    val mean = Array.tabulate(d)(i => m(tri + i).toDouble / n / 1000.0)
    // cov over the quantized ints, then unscale (q = 1000x): exactness of
    // the sums is the aggregate's contract; the division here is the
    // first inexact step, as it must be
    val cov = Array.ofDim[Double](d, d)
    var p = 0
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val s11 = m(p).toDouble
        val c = (s11 - m(tri + i).toDouble * m(tri + j).toDouble / n) / (n - 1) / 1e6
        cov(i)(j) = c; cov(j)(i) = c
        p += 1; j += 1
      }
      i += 1
    }
    val (values, vectors) = jacobiEigen(cov)
    val order = values.indices.sortBy(k => -values(k))
    val eigenvalues = order.map(values).toArray
    val components = order.map { k =>
      val v = Array.tabulate(d)(i => vectors(i)(k))
      // canonical sign: the largest-|weight| entry is positive
      // (first index wins ties), so train() is reproducible run-to-run
      var best = 0
      var bi = 0
      while (bi < d) {
        if (math.abs(v(bi)) > math.abs(v(best))) best = bi
        bi += 1
      }
      if (v(best) < 0) v.map(-_) else v
    }.toArray
    Model(d, n, mean, eigenvalues, components)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: returns
    * (eigenvalues, column-eigenvector matrix). Deterministic sweep
    * order; converges quadratically for symmetric input.
    */
  private[analytics] def jacobiEigen(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = offDiag(a)
    while (off > 1e-12 && sweep < 64) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-15) {
            val theta = (a(q)(q) - a(p)(p)) / (2 * apq)
            val t = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1)) match {
              case 0.0 => 1.0 // theta == 0 -> 45-degree rotation
              case x => x
            }
            val c = 1 / math.sqrt(t * t + 1)
            val s = t * c
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      off = offDiag(a)
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  private def offDiag(a: Array[Array[Double]]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      var j = i + 1
      while (j < a.length) { s += a(i)(j) * a(i)(j); j += 1 }
      i += 1
    }
    s
  }

  /** Project onto the top-k components as integer columns `pc0..pc{k-1}`
    * (scale 1000 * 1e6): centering by the QUANTIZED mean (a zip_with —
    * the only interpreted HOF in the path) and
    * dotting against quantized components through the native integer
    * [[graft.functions.QDot]] path — exact and deterministic, so the
    * distributed projection equals a driver matmul bit-for-bit (PcaSpec).
    */
  def project(df: DataFrame, vec: Column, model: Model, k: Int): DataFrame = {
    require(k <= model.components.length)
    val mq = model.mean.map(x => math.round(x * 1000))
    val centered = Similarity.quantize(vec) // then subtract quantized mean
    val centeredCol = zip_with(centered,
      typedLit(mq.toSeq), (q, m) => q - m)
    (0 until k).foldLeft(df) { (acc, c) =>
      val vq = model.components(c).map(x => math.round(x * 1e6)).toSeq
      acc.withColumn(s"pc$c",
        Similarity.dotQ(centeredCol, typedLit(vq)))
    }
  }
}

/** Holder for trained PCA models, keyed by the data dir string
  * q_pca_project ran on, so its DuckDB oracle can be emitted with the
  * TRAINED quantized mean/components as SQL literals. Verify runs every
  * query (training and stashing the model for its sf dir) before it dumps
  * `SparkEntry.oracleSql(sfDir)`, so the entry for a dir is present
  * exactly when the query ran on that dir; a dir the query never ran on
  * has no entry (Verify then fails loudly instead of comparing against a
  * stale or untrained model).
  */
object PcaModels {
  val stash = new java.util.concurrent.ConcurrentHashMap[String, Pca.Model]()

  /** q_pca_project oracle SQL (empty map when no model was trained).
    * Mirrors [[Pca.project]] bit-for-bit: quantize (scale 1000), subtract
    * the quantized mean, integer-dot against the quantized (1e6)
    * sign-canonical components — all BIGINT math on both engines.
    */
  def oracleEntries(dir: String): Map[String, String] = Option(stash.get(dir)) match {
    case None => Map.empty
    case Some(m) =>
      val d = m.d
      val mq = m.mean.map(x => math.round(x * 1000)).mkString("[", ", ", "]")
      def vq(c: Int) = m.components(c).map(x => math.round(x * 1e6)).mkString("[", ", ", "]")
      val pcs = (0 until 4).map(c =>
        s"  CAST(SUM((q.qv[CAST(g.i AS INT)] - l.m[CAST(g.i AS INT)]) * l.v$c[CAST(g.i AS INT)]) AS BIGINT) AS pc$c")
        .mkString(",\n")
      Map("q_pca_project" ->
        s"""WITH lit AS (SELECT $mq AS m,
           |  ${vq(0)} AS v0,
           |  ${vq(1)} AS v1,
           |  ${vq(2)} AS v2,
           |  ${vq(3)} AS v3),
           |q AS (SELECT vec_id, list_transform(embedding,
           |    x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
           |  FROM embeddings)
           |SELECT q.vec_id,
           |$pcs
           |FROM q, lit l, generate_series(1, $d) g(i)
           |GROUP BY q.vec_id""".stripMargin)
  }
}
