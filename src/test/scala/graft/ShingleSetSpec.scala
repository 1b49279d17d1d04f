package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analytics.Dedup
import graft.functions.ShingleSet

/** Parity pins for the per-row shingle-set kernel: every document's set
  * equals the composed `sort_array(collect_set(xxhash64(shingle)))` over
  * [[Dedup.shingles]], element for element and in order, under both
  * codegen factory modes.
  */
class ShingleSetSpec extends SparkSuite {

  private def composed(docs: DataFrame, k: Int): DataFrame =
    Dedup.shingles(docs, "doc_id", col("text"), k)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(xxhash64(col("shingle")))).as("ss"))

  private def native(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"), ShingleSet.column(col("text"), k).as("ss"))

  private def assertParity(docs: DataFrame, k: Int): Unit =
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        val a = native(docs, k)
        val b = composed(docs, k)
        assert(a.count() == docs.count(), s"one set per row under $mode")
        assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
          s"under $mode, k=$k:\n" + a.exceptAll(b).collect().take(5).mkString("\n"))
      } finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }

  test("sets equal sort_array(collect_set(xxhash64(shingle))) over sf0.001 documents") {
    val docs = graft.core.Tables.documents(spark, sf0001).select("doc_id", "text")
    for (k <- Seq(8, 3)) assertParity(docs, k)
  }

  test("edge rows: empty, shorter than k, repeated shingles, multibyte, astral, null") {
    import spark.implicits._
    val texts = Seq(
      Some(""),
      Some("abc"),
      Some("abababababababab"),
      Some("aaaaaaaaaaaaaaaaaaaa"),
      Some("naïve café — Grüße, 東京の天気は晴れです"),
      Some("\uD83D\uDE00\uD83D\uDE01 emoji \uD83C\uDF89 party \uD83D\uDE80\uD83D\uDE80\uD83D\uDE80 go"),
      Some("\uD83D\uDE00\uD83D\uDE00\uD83D\uDE00\uD83D\uDE00abc"),
      None)
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    for (k <- Seq(8, 1)) assertParity(docs, k)
    val byId = native(docs, 8).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(byId(7L) == Seq(42L), "null text is one null shingle, hashed to xxhash64's seed")
    assert(byId(3L).size == 1, "a run of one character has one distinct 8-shingle")
    assert(byId(2L).size == 2, "an alternating run has two distinct 8-shingles")
    assert(byId.values.forall(ss => ss.zip(ss.drop(1)).forall { case (x, y) => x < y }),
      "strictly ascending: the sorted-distinct contract of SortedIntersectCount")
  }
}
