package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

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

  test("pq model retrains after the dataset is mutated under the same path") {
    val d = scratchDataset(Seq("embeddings"))
    val before = QueriesRelational.pqModelCacheSize
    QueriesRelational.pqTopk(spark, d.toString).collect()
    assert(QueriesRelational.pqModelCacheSize == before + 1)
    QueriesRelational.pqTopk(spark, d.toString).collect()
    assert(QueriesRelational.pqModelCacheSize == before + 1,
      "unchanged dataset must reuse the memoized model")
    touch(d, "embeddings")
    QueriesRelational.pqTopk(spark, d.toString).collect()
    assert(QueriesRelational.pqModelCacheSize == before + 2,
      "mutated dataset must retrain, not serve the stale model")
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
