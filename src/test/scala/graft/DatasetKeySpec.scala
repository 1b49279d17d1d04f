package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.DatasetKey

/** Content-keying of process-lifetime memos: a dataset refreshed under
  * the SAME path must retrain models and rebuild fixtures instead of
  * serving stale ones.
  */
class DatasetKeySpec extends SparkSuite {

  /** A scratch dataset dir holding a copy of the sf0.001 embeddings (and
    * whatever other tables a query touches) that the test can mutate.
    */
  private def scratchDataset(tables: Seq[String]): Path = {
    val d = Files.createTempDirectory("graft-dskey")
    tables.foreach { t =>
      Files.copy(Paths.get(sf0001, s"$t.parquet"), d.resolve(s"$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    d.toFile.deleteOnExit()
    d
  }

  /** Bump one file's mtime by 2s — the smallest "dataset refreshed under
    * the same path" signal (same bytes, new write).
    */
  private def touch(dir: Path, table: String): Unit = {
    val f = dir.resolve(s"$table.parquet").toFile
    assert(f.setLastModified(f.lastModified() + 2000))
  }

  test("key is stable across calls, changes on mtime bump, embeds the dir") {
    val d = scratchDataset(Seq("embeddings"))
    val k1 = DatasetKey.of(d.toString)
    assert(k1 == DatasetKey.of(d.toString))
    assert(k1.startsWith(d.toString + "@"))
    touch(d, "embeddings")
    val k2 = DatasetKey.of(d.toString)
    assert(k2 != k1, "mtime bump must change the content key")
    // single-FILE datasets are content-keyed too (not a raw-string fallback)
    val single = d.resolve("embeddings.parquet").toString
    val sk = DatasetKey.of(single)
    assert(sk.startsWith(single + "@"))
    // only nonexistent paths fall back to the raw string
    assert(DatasetKey.of(d.resolve("absent").toString) == d.resolve("absent").toString)
  }

  test("same-size rewrite within mtime granularity still changes the key") {
    val d = Files.createTempDirectory("graft-dskey-sample")
    d.toFile.deleteOnExit()
    val f = d.resolve("data.bin")
    Files.write(f, Array.fill[Byte](10000)('a'))
    val t0 = f.toFile.lastModified()
    val k1 = DatasetKey.of(d.toString)
    // rewrite: identical length, mtime pinned back to the original —
    // indistinguishable by listing-only metadata
    val b = Array.fill[Byte](10000)('a'); b(9999) = 'b'
    Files.write(f, b)
    assert(f.toFile.setLastModified(t0))
    assert(DatasetKey.of(d.toString) != k1,
      "the head+tail content sample must catch a metadata-stable rewrite")
  }

  /** The memoized PQ codebook for `dir`, read through a frame that
    * throws if evaluated: a memo miss (a fresh fit) fails the read.
    */
  private def memoPqModel(dir: String): graft.analytics.Pq.Model = {
    import org.apache.spark.sql.functions.{col, expr}
    val poison = spark.range(1).select(col("id").as("vec_id"),
      expr("raise_error('pq memo miss: the codebook was fit again')").as("embedding"))
    QueriesRelational.pqModel(poison, dir)
  }

  test("pq model retrains after the dataset is mutated under the same path") {
    val d = scratchDataset(Seq("embeddings"))
    QueriesRelational.pqTopk(spark, d.toString).collect()
    val m1 = memoPqModel(d.toString)
    QueriesRelational.pqTopk(spark, d.toString).collect()
    assert(memoPqModel(d.toString) eq m1, "unchanged dataset must reuse the memoized model")
    touch(d, "embeddings")
    QueriesRelational.pqTopk(spark, d.toString).collect()
    val m2 = memoPqModel(d.toString)
    assert(m2 ne m1, "mutated dataset must retrain, not serve the stale model")
  }

  test("q_pq_topk and q_ivfpq_topk started together fit one codebook, same rows as sequential") {
    val queries = Seq[(SparkSession, String) => DataFrame](
      QueriesRelational.pqTopk, QueriesAnalytics.ivfpqTopk)
    def rowHashes(df: DataFrame): Seq[String] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      df.collect().map(r => md.digest(r.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString).toSeq.sorted
    }
    val d = scratchDataset(Seq("embeddings")).toString
    val go = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(queries.size)
    val together = try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      val runs = queries.map(q => Future {
        go.await()
        (rowHashes(q(spark, d)), memoPqModel(d))
      })
      go.countDown()
      runs.map(Await.result(_, 10.minutes))
    } finally pool.shutdownNow()
    assert(together(0)._2 eq together(1)._2, "both queries must probe one codebook")
    val fresh = scratchDataset(Seq("embeddings")).toString
    assert(together.map(_._1) == queries.map(q => rowHashes(q(spark, fresh))),
      "concurrent rows differ from a sequential run")
  }

  test("a dataset on another Hadoop FS scheme is content-keyed through that FS") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val local = Files.createTempDirectory("graft-dskey-fs")
    local.toFile.deleteOnExit()
    val f = local.resolve("data.bin")
    Files.write(f, Array.fill[Byte](10000)('a'))
    val t0 = f.toFile.lastModified()
    val d = s"graftfs://$local"
    val k1 = DatasetKey.of(d)
    assert(k1.startsWith(d + "@"), s"$d keyed as $k1, not <dir>@<hash>")
    var builds = 0
    def build(): Unit = graft.core.Tmp.stagedOnce("dskey_graftfs", d) { _ => builds += 1 }
    build(); build()
    assert(builds == 1, "unchanged dataset must not rebuild")
    // same length, mtime pinned back: only the content sample differs
    val b = Array.fill[Byte](10000)('a'); b(9999) = 'b'
    Files.write(f, b)
    assert(f.toFile.setLastModified(t0))
    assert(DatasetKey.of(d) != k1, "a same-size rewrite must change the key")
    build()
    assert(builds == 2, "the rewritten dataset must rebuild")
  }

  test("layout fixture rebuilds after the source dataset is mutated") {
    val d = scratchDataset(Seq("events"))
    var builds = 0
    def build(): Unit = graft.core.Tmp.stagedOnce("dskey_fixture", d.toString) { _ => builds += 1 }
    build(); build()
    assert(builds == 1, "unchanged dataset must not rebuild the fixture")
    touch(d, "events")
    build()
    assert(builds == 2, "mutated dataset must rebuild the fixture")
  }
}
