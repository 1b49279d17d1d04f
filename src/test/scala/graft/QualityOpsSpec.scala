package graft

import org.apache.spark.sql.functions._

import graft.analytics.Dedup

/** Contracts of the r14 curation additions: exact-KS against a driver
  * brute force, URL canonicalization postconditions, and the leak-split
  * leakage guarantee (no LSH near-dup pair straddles splits).
  */
class QualityOpsSpec extends SparkSuite {

  test("q_ks_drift matches a driver-side brute-force KS exactly") {
    val rows = QueriesQuality.ksDrift(spark, sf0001).collect()
      .map(r => r.getString(0) -> r).toMap
    val ev = graft.core.Tables.events(spark, sf0001)
      .filter(col("user_id").isNotNull)
      .select(col("event_type"), col("user_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .collect()
    val byType = ev.groupBy(_.getString(0))
    assert(rows.keySet == byType.keySet)
    for ((etype, rs) <- byType) {
      val a = rs.filter(_.getLong(1) % 2 == 0).map(_.getLong(2)).sorted
      val b = rs.filter(_.getLong(1) % 2 != 0).map(_.getLong(2)).sorted
      val values = (a ++ b).distinct.sorted
      val ksNum = values.map { v =>
        val cumA = a.count(_ <= v).toLong
        val cumB = b.count(_ <= v).toLong
        math.abs(cumA * b.length - cumB * a.length)
      }.max
      val r = rows(etype)
      assert(r.getAs[Long]("na") == a.length.toLong, s"$etype na")
      assert(r.getAs[Long]("nb") == b.length.toLong, s"$etype nb")
      // ks_num carries DECIMAL(38,0) internally (Int64-overflow-proof)
      // but the gated output is digits-only STRING (canonicalization-proof)
      assert(r.getAs[String]("ks_num").toLong == ksNum, s"$etype ks_num")
      assert(r.getAs[Long]("ks_mills") ==
        (1000L * ksNum) / (a.length.toLong * b.length), s"$etype ks_mills")
    }
  }

  test("q_key_skew matches a driver-side brute-force profile exactly") {
    val got = QueriesQuality.keySkew(spark, sf0001).collect()
      .map(r => r.getString(0) -> r).toMap
    val ev = graft.core.Tables.events(spark, sf0001)
      .filter(col("user_id").isNotNull)
      .select(col("event_type"), col("user_id")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val byType = ev.groupBy(_._1)
    assert(got.keySet == byType.keySet)
    for ((et, rs) <- byType) {
      val mass = rs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val sorted = mass.values.toSeq.sorted
      def atRank(q: Double) = sorted(math.floor((sorted.length - 1) * q).toInt)
      val maxMass = sorted.last
      val p50 = atRank(0.5)
      val topKey = mass.toSeq.sortBy { case (k, m) => (-m, k) }.head._1
      val target = math.max(4 * p50, 1L)
      val r = got(et)
      assert(r.getAs[Long]("n_keys") == mass.size.toLong, s"$et n_keys")
      assert(r.getAs[Long]("n_rows") == rs.length.toLong, s"$et n_rows")
      assert(r.getAs[Long]("p50_mass") == p50, s"$et p50")
      assert(r.getAs[Long]("p99_mass") == atRank(0.99), s"$et p99")
      assert(r.getAs[Long]("max_mass") == maxMass, s"$et max")
      assert(r.getAs[Long]("top_key") == topKey, s"$et top_key")
      assert(r.getAs[Long]("top_salt") == (maxMass + target - 1) / target, s"$et salt")
    }
  }

  test("streaming KS equals the batch statistic exactly") {
    val batch = QueriesQuality.ksDrift(spark, sf0001)
      .orderBy("event_type").collect().toSeq
    val stream = QueriesQuality.streamKs(spark, sf0001)
      .orderBy("event_type").collect().toSeq
    assert(stream == batch)
  }

  test("q_stream_ks reuses one output dir across runs instead of leaking one per run") {
    // its per-batch delta dirs, wherever a run may leave them: RAM-backed
    // scratch, or this process's staged-fixture root
    def outputDirs(): Int = {
      val staged = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft-staged-${ProcessHandle.current().pid()}")
      def named(d: java.io.File, prefix: String) =
        Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
          .count(f => f.isDirectory && f.getName.startsWith(prefix))
      named(new java.io.File(graft.core.Tmp.scratchRoot), "graft-sks-out") +
        named(staged, "sks_out_")
    }
    def run(): Long = SparkEntry.queries("q_stream_ks")(spark, sf0001).count()
    val first = run()
    val afterFirst = outputDirs()
    assert(run() == first)
    assert(outputDirs() == afterFirst, "a second run must not add an output dir")
  }

  test("url canonicalization postconditions") {
    val rows = QueriesAnalytics.urlCanonical(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val cu = r.getAs[String]("canon_url")
      val host = r.getAs[String]("host")
      assert(cu.startsWith("http://"), cu)
      assert(!cu.contains("#") && !cu.contains("utm_") && !cu.contains("ref="), cu)
      assert(!cu.contains(":80") && !cu.contains("WWW") && !cu.contains("www."), cu)
      assert(cu == cu.substring(0, 7) + host + cu.substring(7 + host.length) &&
        cu.substring(7).startsWith(host), cu)
      assert(host == host.toLowerCase, host)
      assert(cu.contains("id="), s"the non-tracking param must survive: $cu")
    }
    // dup marking: exactly one non-dup (first doc_id) per canonical URL
    val byCanon = rows.groupBy(_.getAs[String]("canon_url"))
    byCanon.foreach { case (cu, rs) =>
      val firsts = rs.filter(!_.getAs[Boolean]("is_dup_url"))
      assert(firsts.length == 1, cu)
      assert(firsts.head.getAs[Long]("doc_id") ==
        rs.map(_.getAs[Long]("doc_id")).min, cu)
    }
  }

  test("leak split: no LSH candidate pair straddles splits; splits cover the corpus") {
    val split = QueriesAnalytics.leakSplit(spark, sf0001)
    val d = graft.core.Tables.documents(spark, sf0001)
    assert(split.count() == d.count())
    val pairs = Dedup.lshCandidatePairs(
      Dedup.lshBandKeys(d, "doc_id", col("text"), k = 8, numHashes = 8,
        rowsPerBand = 4),
      "doc_id")
    val sa = split.select(col("doc_id").as("doc_a"), col("split").as("split_a"))
    val sb = split.select(col("doc_id").as("doc_b"), col("split").as("split_b"))
    val straddle = pairs.join(sa, "doc_a").join(sb, "doc_b")
      .filter(col("split_a") =!= col("split_b")).count()
    assert(straddle == 0L, s"$straddle near-dup pairs straddle splits")
    // and within a component the split label is constant
    val perComp = split.groupBy("component")
      .agg(countDistinct(col("split")).as("k"))
      .filter(col("k") > 1).count()
    assert(perComp == 0L)
  }
}
