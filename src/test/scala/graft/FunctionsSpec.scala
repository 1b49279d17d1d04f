package graft

import org.apache.spark.sql.functions._

/** The native Column APIs build plain Columns: using them (and the
  * bloom pre-prune and PQ encoder built the same way) must leave the
  * session's function registry exactly as it was.
  */
class FunctionsSpec extends SparkSuite {
  import spark.implicits._

  test("native Column APIs leave the session function registry untouched") {
    import graft.analytics.Pq
    import graft.functions._
    val registry = spark.sessionState.functionRegistry
    val before = registry.listFunction().toSet
    val text = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("id", "text")
    text.select(
        MinHashSignature.signature(col("text"), 4, 8),
        ShingleSet.column(col("text"), 4),
        SimHash.column(col("text"), 16),
        TokenStats.column(col("text")),
        TokenWindowHashes.column(col("text"), 3),
        NgramBuckets.column(col("text"), 2, 64L))
      .collect()
    val sets = Seq((Seq(1L, 2L, 3L), Seq(2L, 3L, 4L))).toDF("a", "b")
    sets.select(
        SortedIntersectCount.column(col("a"), col("b")),
        QDot.column(col("a"), col("b")))
      .collect()
    sets.agg(VecOuterSum.column(col("a"), 3)).collect()
    val e = graft.core.Tables.embeddings(spark, sf0001)
    val m = Pq.train(e, col("vec_id"), col("embedding"), k = 4, iters = 1)
    Pq.encode(e, col("vec_id"), col("embedding"), m).collect()
    QueriesLayout.bloomPrune(spark, sf0001).collect()
    assert(registry.listFunction().toSet == before)
  }
}

class QDotSpec extends SparkSuite {
  import spark.implicits._

  test("native QDot == interpreted aggregate(zip_with) fold on seeded fuzz") {
    val rnd = new scala.util.Random(23)
    // equal-length pairs (the QDot contract — every caller dots fixed-dim
    // vectors), mixed signs and magnitudes, including zeros and dim 1
    val rows = Seq.tabulate(300) { i =>
      val dim = Seq(1, 8, 64)(i % 3)
      val a = Array.fill(dim)(rnd.nextLong(2001) - 1000)
      val b = Array.fill(dim)(rnd.nextLong(2001) - 1000)
      (a.toSeq, b.toSeq)
    }
    val df = rows.toDF("a", "b")
    val got = df.select(graft.functions.QDot.column(col("a"), col("b"))).as[Long].collect()
    val want = df.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0L), (acc, v) => acc + v)).as[Long].collect()
    assert(got.toSeq == want.toSeq)
    // and equals the plain Scala dot
    val scalaDot = rows.map { case (a, b) => a.zip(b).map { case (x, y) => x * y }.sum }
    assert(got.toSeq == scalaDot)
  }

  test("QDot null propagation") {
    val df = Seq(
      (Some(Seq(1L, 2L)), Some(Seq(3L, 4L))),
      (None, Some(Seq(3L, 4L))),
      (Some(Seq(1L, 2L)), None)).toDF("a", "b")
    val got = df.select(graft.functions.QDot.column(col("a"), col("b"))).collect()
    assert(got(0).getLong(0) == 11L)
    assert(got(1).isNullAt(0) && got(2).isNullAt(0))
  }
}

class QDotNullParitySpec extends SparkSuite {
  import spark.implicits._

  test("QDot matches composed-form null algebra: unequal lengths and null elements -> NULL") {
    val df = Seq(
      (Seq[Option[Long]](Some(1L), Some(2L)), Seq[Option[Long]](Some(3L))),          // unequal
      (Seq[Option[Long]](Some(1L), None), Seq[Option[Long]](Some(3L), Some(4L))),    // null elem left
      (Seq[Option[Long]](Some(1L), Some(2L)), Seq[Option[Long]](None, Some(4L))),    // null elem right
      (Seq[Option[Long]](Some(1L), Some(2L)), Seq[Option[Long]](Some(3L), Some(4L))) // clean
    ).toDF("a", "b")
    val native = df.select(graft.functions.QDot.column(col("a"), col("b"))).collect()
    val composed = df.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0L), (acc, v) => acc + v)).collect()
    (0 until 4).foreach { i =>
      assert(native(i).isNullAt(0) == composed(i).isNullAt(0), s"row $i null parity")
      if (!native(i).isNullAt(0))
        assert(native(i).getLong(0) == composed(i).getLong(0), s"row $i value")
    }
    assert(native(0).isNullAt(0) && native(1).isNullAt(0) && native(2).isNullAt(0))
    assert(native(3).getLong(0) == 11L)
  }
}
