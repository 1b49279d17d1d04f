package graft

import org.apache.spark.sql.functions._

import graft.analytics.Dedup
import graft.functions.SortedIntersectCount

/** Parity + plan pins for the sorted-merge intersect kernel that replaced
  * `size(array_intersect(...))` in the fused LSH verify (r15 deferred
  * item). The merge is only correct on SORTED DISTINCT inputs — that
  * contract is what these tests pin: value parity against array_intersect
  * on adversarial inputs, both codegen paths, and the call sites actually
  * building sets via the sorted-distinct ShingleSet kernel (whose parity
  * with sort_array ∘ collect_set ShingleSetSpec pins).
  */
class SortedIntersectSpec extends SparkSuite {

  /** Deterministic pseudo-random sorted-distinct array (seeded per row). */
  private def arr(seed: Long, len: Int, domain: Int): Array[Long] = {
    var x = seed * 6364136223846793005L + 1442695040888963407L
    val set = scala.collection.mutable.SortedSet.empty[Long]
    var i = 0
    while (i < len) {
      x = x * 6364136223846793005L + 1442695040888963407L
      // small domain forces heavy overlap; negatives exercised via offset
      set += (math.floorMod(x, domain).toLong - domain / 2)
      i += 1
    }
    set.toArray
  }

  test("counts equal size(array_intersect) on sorted distinct inputs — both codegen modes") {
    import spark.implicits._
    val rows = (0 until 500).map { i =>
      (arr(i.toLong, i % 50, 40), arr((i + 7919).toLong, (i * 3) % 60, 40))
    } :+ ((Array.empty[Long], arr(1L, 20, 40))) :+
      ((arr(2L, 20, 40), Array.empty[Long])) :+
      ((Array.empty[Long], Array.empty[Long]))
    val df = rows.toDF("a", "b")
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        val bad = df.select(
            SortedIntersectCount.column(col("a"), col("b")).as("merge"),
            size(array_intersect(col("a"), col("b"))).cast("long").as("ref"))
          .filter(col("merge") =!= col("ref"))
          .count()
        assert(bad == 0, s"mismatch under $mode")
      } finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("debug assertion catches unsorted/duplicated input that silently undercounts when off") {
    import spark.implicits._
    // misuse: unsorted left, duplicated right — the merge undercounts the
    // true intersection {1,2,3} without any error when the flag is off
    val df = Seq((Array(3L, 1L, 2L), Array(1L, 1L, 2L, 3L))).toDF("a", "b")
    val quiet = df.select(SortedIntersectCount.column(col("a"), col("b")).as("c"))
      .head().getLong(0)
    assert(quiet < 3, "the silent-undercount hazard this assertion exists for")
    System.setProperty("graft.sortedIntersect.assert", "true")
    try {
      for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
        spark.conf.set("spark.sql.codegen.factoryMode", mode)
        try {
          val e = intercept[Exception] {
            df.select(SortedIntersectCount.column(col("a"), col("b")).as("c")).head()
          }
          def chain(t: Throwable): Seq[Throwable] =
            Option(t).toSeq.flatMap(x => x +: chain(x.getCause))
          assert(chain(e).exists(t =>
            Option(t.getMessage).exists(_.contains("sorted-distinct contract"))),
            s"under $mode got: $e")
        } finally spark.conf.unset("spark.sql.codegen.factoryMode")
      }
      // sorted-distinct input still evaluates cleanly with the flag on
      val ok = Seq((Array(1L, 2L, 3L), Array(2L, 3L, 4L))).toDF("a", "b")
        .select(SortedIntersectCount.column(col("a"), col("b")).as("c"))
        .head().getLong(0)
      assert(ok == 2L)
    } finally System.clearProperty("graft.sortedIntersect.assert")
  }

  test("null arrays yield null; nullable-element arrays are rejected at analysis") {
    import spark.implicits._
    val df = Seq((Some(Array(1L, 2L)), Option.empty[Array[Long]]))
      .toDF("a", "b")
    val r = df.select(SortedIntersectCount.column(col("a"), col("b")).as("c")).head()
    assert(r.isNullAt(0))
    // array<bigint> with containsNull=true (a cast introduces it) must not analyze:
    // the merge would read garbage from null slots instead of matching
    // array_intersect's null algebra
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(SortedIntersectCount.column(
        col("a").cast("array<bigint>"), col("a").cast("array<bigint>"))).head()
    }
    assert(err.getMessage.contains("non-null elements"), err.getMessage)
  }

  test("fused verify plan carries the merge kernel, not array_intersect, over sorted sets") {
    val docs = graft.core.Tables.documents(spark, sf0001)
    val verified = Dedup.lshVerifiedPairs(
      Dedup.lshBandKeys(docs, "doc_id", col("text"), k = 8, numHashes = 8, rowsPerBand = 4),
      docs, "doc_id", col("text"), k = 8)
    val plan = verified.queryExecution.executedPlan.toString
    assert(plan.contains(SortedIntersectCount.name), plan.take(4000))
    assert(!plan.contains("array_intersect"), plan.take(4000))
    // the sets the kernel consumes are built sorted by ShingleSet.
    // Asserting on the analyzed plan would be near-tautological (the
    // analyzed tree always carries the expression the query was written
    // with — r19 ADVICE item 3), so require a PHYSICAL node that evaluates
    // ShingleSet, i.e. sorted-set construction survives to the plan that
    // executes. The verify query holds no pin, so the set build sits in
    // its own physical plan; the walk only unwraps AQE's wrapper, a leaf.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def expand(p: SparkPlan): Seq[SparkPlan] = p.collect { case q => q }.flatMap {
      case a: AdaptiveSparkPlanExec => a +: expand(a.executedPlan)
      case q => Seq(q)
    }
    val setBuild = expand(verified.queryExecution.executedPlan).exists(
      _.expressions.exists(_.find(_.isInstanceOf[graft.functions.ShingleSet]).isDefined))
    assert(setBuild,
      "no physical plan node evaluates ShingleSet:\n" +
        expand(verified.queryExecution.executedPlan).mkString("\n").take(4000))
  }

  test("fused verify statistics are unchanged by the kernel swap (array_intersect replay)") {
    val docs = graft.core.Tables.documents(spark, sf0001)
    val bandKeys = Dedup.lshBandKeys(docs, "doc_id", col("text"),
      k = 8, numHashes = 8, rowsPerBand = 4)
    val merge = Dedup.lshVerifiedPairs(bandKeys, docs, "doc_id", col("text"), k = 8)
      .select("doc_a", "doc_b", "inter", "n_a", "n_b")
    // independent replay of the same pair statistics through the builtin
    // (UNSORTED sets + array_intersect — the pre-r15 formulation)
    val sets = Dedup.shingles(docs, "doc_id", col("text"), 8)
      .groupBy(col("doc_id"))
      .agg(collect_set(xxhash64(col("shingle"))).as("ss"))
    val pairs = Dedup.lshCandidatePairs(bandKeys, "doc_id")
    val ref = pairs
      .join(sets.select(col("doc_id").as("doc_a"), col("ss").as("ss_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("ss").as("ss_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("ss_a"), col("ss_b"))).cast("long").as("inter"),
        size(col("ss_a")).cast("long").as("n_a"),
        size(col("ss_b")).cast("long").as("n_b"))
      .filter(col("inter") > 0)
    assert(merge.exceptAll(ref).isEmpty && ref.exceptAll(merge).isEmpty)
  }
}
