package graft

import org.apache.spark.sql.functions._

/** Value- and plan-level guards for the physical-layout operators
  * ([[QueriesLayout]]): the scale claims here are about WHERE work
  * happens (no shuffle under a co-located join, pruning at planning
  * time, tight per-cluster bounding boxes), which the value oracle
  * cannot see.
  */
class LayoutSpec extends SparkSuite {
  import spark.implicits._

  private def executed(q: String): String = {
    val df = SparkEntry.queries(q)(spark, sf0001)
    df.collect() // AQE finalizes the plan only on execution
    df.queryExecution.executedPlan.toString
  }

  test("bucketed join: NO exchange under the sort-merge join") {
    val p = executed("q_bucket_join")
    assert(p.contains("SortMergeJoin"), p.take(3000))
    // the rollup above the join may exchange (on o_orderpriority); the
    // join inputs must not — no exchange keyed on either join key.
    assert(!p.contains("Exchange hashpartitioning(l_orderkey") &&
      !p.contains("Exchange hashpartitioning(o_orderkey"),
      "bucketed co-located join must not shuffle either side:\n" + p.take(3000))
    assert(p.contains("Bucketed: true"), p.take(3000))
    assert(p.contains("SelectedBucketsCount"), p.take(3000))
  }

  test("partition-pruned scan: predicate resolves in PartitionFilters, not post-scan") {
    val p = executed("q_partition_prune")
    val scanLines = p.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n")
    assert(scanLines.contains("event_type"),
      "event_type must prune at planning time:\n" + p.take(3000))
    // no data-filter on the partition column anywhere in the plan
    val dataFilters = p.linesIterator.filter(_.trim.startsWith("+- Filter")).mkString
    assert(!dataFilters.contains("event_type"), p.take(3000))
  }

  test("z-order buckets have exact 256x256 bounding boxes on BOTH dimensions") {
    val rows = SparkEntry.queries("q_zorder")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (minX, maxX) = (r.getAs[Long]("min_x"), r.getAs[Long]("max_x"))
      val (minY, maxY) = (r.getAs[Long]("min_y"), r.getAs[Long]("max_y"))
      // zbucket fixes bits 8+ of x AND y simultaneously — the property a
      // single-column sort cannot give both dimensions at once
      assert(minX >> 8 == maxX >> 8, s"x box spans blocks: $r")
      assert(minY >> 8 == maxY >> 8, s"y box spans blocks: $r")
    }
  }

  test("bloom pre-prune is transparent: equals the exact join, and prunes the stream") {
    val exact = {
      val grams = graft.core.Tables.documents(spark, sf0001)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"),
          explode(array_distinct(QueriesTraining.wordNgrams(col("ws"), 3))).as("gram"))
      val ev = grams.filter(col("doc_id") % 17 === 0).select(col("gram")).distinct()
      grams.filter(col("doc_id") % 17 =!= 0).join(ev, "gram")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit_grams"))
        .as[(Long, Long)].collect().toMap
    }
    val got = SparkEntry.queries("q_bloom_prune")(spark, sf0001)
      .as[(Long, Long)].collect().toMap
    assert(got == exact)
  }

  test("bloom pre-prune probe is a native codegen expression, not a Scala UDF") {
    val p = executed("q_bloom_prune")
    assert(p.contains("might_contain"), "probe must be BloomFilterMightContain:\n" + p.take(3000))
    assert(!p.contains("UDF"), "no Scala closure in the probe path:\n" + p.take(3000))
  }

  test("cow upsert: equals the full aggregate; v1 holds ONLY the touched buckets") {
    val got = SparkEntry.queries("q_cow_upsert")(spark, sf0001)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val want = graft.core.Tables.events(spark, sf0001)
      .groupBy(col("user_id"))
      .agg((first(col("user_id")) % 16).as("bucket"),
        count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("cents"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == want, "merged COW table must equal the one-shot aggregate")

    // the rewrite wrote only the delta's partitions: v1 = buckets 0-3
    val base = graft.core.Tmp.staged("cow", sf0001)
    // Option-guard: an all-empty delta writes no v1 dir at all
    val v1Dirs = Option(new java.io.File(s"$base/v1").listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    // expected touched buckets derived from the operator's own isDelta
    // predicate over the fixture, not hardcoded — a data regeneration that
    // leaves a bucket empty must not fail for reasons unrelated to the merge
    val expectedTouched = graft.core.Tables.events(spark, sf0001)
      .filter((col("event_id") % 5 === 4) && (col("user_id") % 16 < 4))
      .select((col("user_id") % 16).cast("int").as("b")).distinct()
      .collect().map(r => s"bucket=${r.getInt(0)}").sorted.toSeq
    assert(v1Dirs == expectedTouched,
      s"COW must rewrite only touched partitions, got $v1Dirs want $expectedTouched")
    // every bucket the data populates exists in v0 (the untouched ones
    // were never rewritten and are served from there)
    val v0Dirs = new java.io.File(s"$base/v0").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    val populated = want.values.map(v => s"bucket=${v._1}").toSet
    assert(populated.forall(v0Dirs.contains), s"v0: $v0Dirs vs data: $populated")

    // the merge-side state read prunes partitions at planning time: same
    // scan shape the operator used (v0 + touched-bucket predicate)
    val merge = spark.read.parquet(s"$base/v0")
      .filter(col("bucket").isin(0, 1, 2, 3))
    merge.collect()
    val mp = merge.queryExecution.executedPlan.toString
    val pf = mp.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n")
    assert(pf.contains("bucket"), "bucket predicate must land in PartitionFilters:\n" + mp.take(3000))

    // and the catalog reader's v0 leg prunes the shadowed buckets the same way
    val reader = SparkEntry.queries("q_cow_upsert")(spark, sf0001)
    reader.collect()
    val rp = reader.queryExecution.executedPlan.toString
    assert(rp.linesIterator.filter(_.contains("PartitionFilters"))
      .mkString.contains("bucket"), rp.take(3000))
  }

  test("compaction: fewer files per partition, cap honored, content preserved") {
    // run the query first (writes the fixture + compacted layout)
    val got = SparkEntry.queries("q_compaction")(spark, sf0001)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = graft.core.Tables.events(spark, sf0001)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(round(col("value") * 100).cast("long")).as("c"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == want, "compacted content must equal the source")

    val base = graft.core.Tmp.staged("compact", sf0001)
    def parquetFiles(v: String): Map[String, Int] =
      Option(new java.io.File(s"$base/$v").listFiles()).getOrElse(Array.empty)
        .filter(_.isDirectory)
        .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    val before = parquetFiles("v0")
    val after = parquetFiles("v1")
    assert(before.keySet == after.keySet, "partition dirs preserved")
    after.foreach { case (dir, nAfter) =>
      assert(nAfter <= before(dir),
        s"$dir: compaction must not increase file count ($nAfter vs ${before(dir)})")
      val rows = want(dir.stripPrefix("event_type="))._1
      val slots = math.ceil(rows / 2500.0).toInt
      // cap guarantees >= ceil(rows/cap) files; hash-slot/task alignment
      // can split a slot across tasks, adding at most one file per slot
      assert(nAfter >= slots && nAfter <= 2 * slots,
        s"$dir: ${nAfter} files for $rows rows at cap 2500, want in [$slots, ${2 * slots}]")
    }
    // the fragmented state really was fragmented (the fixture is honest)
    assert(before.values.sum > after.values.sum, s"$before -> $after")
  }

  test("scd2 invariants: contiguous versions, chained intervals, one current, no no-op versions") {
    val rows = SparkEntry.queries("q_scd2")(spark, sf0001).collect()
      .groupBy(_.getAs[Long]("user_id"))
    assert(rows.nonEmpty)
    rows.foreach { case (user, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("version"))
      assert(sorted.map(_.getAs[Long]("version")).toSeq == (1L to sorted.length).toSeq,
        s"user $user versions not contiguous")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("valid_to") == b.getAs[Long]("valid_from"),
            s"user $user intervals must chain")
          assert(a.getAs[Long]("value_cents") != b.getAs[Long]("value_cents"),
            s"user $user no-op update survived collapse")
        case _ =>
      }
      assert(sorted.count(_.getAs[Boolean]("is_current")) == 1, s"user $user current rows")
      assert(sorted.last.getAs[Boolean]("is_current") && sorted.last.isNullAt(
        sorted.last.fieldIndex("valid_to")), s"user $user last version must be open")
    }
  }

  test("WAP: poisoned stages audit red and never publish; a clean stage commits") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-wap-red").toFile
    def marker = new java.io.File(base, "_PUBLISHED")
    // duplicate key -> red
    val dup = Seq((1L, 10L), (1L, 20L), (2L, 30L)).toDF("user_id", "cents")
    assert(!QueriesLayout.wapStageAuditPublish(s, dup, "user_id", "cents", base.getPath))
    assert(!marker.isFile, "red audit must not create the commit marker")
    // null measure -> red
    val nulls = Seq((1L, Some(10L)), (2L, None)).toDF("user_id", "cents")
    assert(!QueriesLayout.wapStageAuditPublish(s, nulls, "user_id", "cents", base.getPath))
    assert(!marker.isFile)
    // empty -> red (an upstream that produced nothing is not publishable)
    val empty = Seq.empty[(Long, Long)].toDF("user_id", "cents")
    assert(!QueriesLayout.wapStageAuditPublish(s, empty, "user_id", "cents", base.getPath))
    assert(!marker.isFile)
    // clean -> green, marker is the commit point
    val good = Seq((1L, 10L), (2L, 30L)).toDF("user_id", "cents")
    assert(QueriesLayout.wapStageAuditPublish(s, good, "user_id", "cents", base.getPath))
    assert(marker.isFile)
  }

  test("stream-WAP guard: fresh red batch fails the stream; redelivery of a committed batch is a silent no-op") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-swap-guard").toFile.getPath
    // a poisoned (duplicate-key) FRESH batch must throw — committing the
    // micro-batch checkpoint past it would permanently drop the data
    val dup = Seq((1L, 10L), (1L, 20L)).toDF("event_id", "cents")
    val ex = intercept[IllegalStateException] {
      QueriesLayout.wapBatchOrFail(s, dup, 0L, base, "event_id", "cents")
    }
    assert(ex.getMessage.contains("failed the WAP audit"))
    assert(!new java.io.File(s"$base/v0", "_PUBLISHED").isFile)
    // a clean batch publishes
    val good = Seq((1L, 10L), (2L, 20L)).toDF("event_id", "cents")
    QueriesLayout.wapBatchOrFail(s, good, 0L, base, "event_id", "cents")
    assert(new java.io.File(s"$base/v0", "_PUBLISHED").isFile)
    // REDELIVERY of the committed batch — even a poisoned payload — hits
    // the fence and must NOT throw (at-least-once upstream, exactly-once
    // published): the staged files stay untouched
    QueriesLayout.wapBatchOrFail(s, dup, 0L, base, "event_id", "cents")
    assert(s.read.parquet(s"$base/v0/staged").count() == 2)
  }

  test("publishedVersions orders numerically, not lexicographically (v10 after v2)") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-swap-order").toFile.getPath
    for (id <- Seq(0L, 2L, 10L)) {
      val b = Seq((id * 100 + 1, 1L)).toDF("event_id", "cents")
      QueriesLayout.wapBatchOrFail(s, b, id, base, "event_id", "cents")
    }
    val names = QueriesLayout.publishedVersions(base)
      .map(p => new java.io.File(p).getParentFile.getName)
    assert(names == Seq("v0", "v2", "v10"))
  }

  test("version diff: exact changelog on a synthetic version pair, untouched buckets skipped") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-vdiff").toFile.getPath
    def write(rows: Seq[(Long, Int, Long, Long)], path: String): Unit =
      rows.toDF("user_id", "bucket", "n_events", "cents")
        .write.mode("overwrite").partitionBy("bucket").parquet(path)
    // buckets: 0 untouched, 1 update (user 5), 2 delete (user 6), 3 insert (user 7)
    write(Seq((4L, 0, 2L, 100L), (5L, 1, 3L, 200L), (6L, 2, 1L, 50L)), s"$base/v0")
    write(Seq((4L, 0, 2L, 100L), (5L, 1, 4L, 260L), (7L, 3, 1L, 30L)), s"$base/v1")
    val (changed, log) = QueriesLayout.diffVersions(s, s"$base/v0", s"$base/v1")
    assert(changed == Seq(1, 2, 3), s"bucket 0 must fingerprint-skip: $changed")
    val ops = log.collect().map(r => r.getAs[Long]("user_id") -> r.getAs[String]("op")).toMap
    assert(ops == Map(5L -> "update", 6L -> "delete", 7L -> "insert"), ops.toString)
    // identical versions: zero changed buckets, empty changelog
    val (none, empty) = QueriesLayout.diffVersions(s, s"$base/v0", s"$base/v0")
    assert(none.isEmpty && empty.isEmpty)
  }

  test("version diff: the key-level diff scans carry the changed-bucket PartitionFilters") {
    val df = SparkEntry.queries("q_version_diff")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val pf = p.linesIterator.filter(_.contains("PartitionFilters")).toSeq
    assert(pf.size >= 2 && pf.forall(_.contains("bucket")),
      "both version scans must prune to changed buckets:\n" + p.take(3000))
    // the fixture's untouched buckets (6-8, 10-15) never enter the diff
    val changed = QueriesLayout.diffVersions(spark,
      s"${graft.core.Tmp.staged("vdiff", sf0001)}/v0",
      s"${graft.core.Tmp.staged("vdiff", sf0001)}/v1")._1
    assert(changed.toSet.subsetOf(Set(0, 1, 2, 3, 4, 5, 9)),
      s"only late-event/insert/erasure buckets may change: $changed")
  }

  test("vacuum: retained versions byte-identical, idempotent, current protected") {
    import org.apache.spark.sql.functions._
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_vacuum_spec"
    graft.core.Tmp.deleteRecursively(java.nio.file.Paths.get(base))
    val ev = graft.core.Tables.events(spark, sf0001)
      .select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
    (0 to 3).foreach { k =>
      ev.filter(col("event_id") % 4 <= k).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .write.mode("overwrite").parquet(s"$base/v$k")
    }
    def bytes(v: Int): Map[String, Long] = {
      val d = new java.io.File(s"$base/v$v")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.length()).toMap
    }
    val (v2Pre, v3Pre) = (bytes(2), bytes(3))
    val v2Rows = spark.read.parquet(s"$base/v2").collect().sortBy(_.getString(0)).toSeq

    val (nv, nf, nb) = QueriesLayout.vacuumVersions(base, keep = 2)
    assert(nv == 2 && nf > 0 && nb > 0)
    assert(!new java.io.File(s"$base/v0").exists() && !new java.io.File(s"$base/v1").exists())
    // retained versions untouched: same files, same sizes, same content
    assert(bytes(2) == v2Pre && bytes(3) == v3Pre)
    assert(spark.read.parquet(s"$base/v2").collect().sortBy(_.getString(0)).toSeq == v2Rows)

    // idempotent: a second vacuum finds nothing to expire
    assert(QueriesLayout.vacuumVersions(base, keep = 2) == ((0, 0, 0L)))
    // the current version can never be reclaimed
    intercept[IllegalArgumentException] { QueriesLayout.vacuumVersions(base, keep = 0) }
    assert(new java.io.File(s"$base/v3").exists())
  }
}
