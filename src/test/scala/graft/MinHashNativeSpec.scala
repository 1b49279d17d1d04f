package graft

import org.apache.spark.sql.functions._

import graft.analytics.Dedup

class MinHashNativeSpec extends SparkSuite {

  test("native expression signatures equal the composed-pipeline signatures") {
    val docs = graft.core.Tables.documents(spark, sf0001)
    val native = Dedup.minhashWideNative(docs, "doc_id", col("text"), 8, 8)
    val composed = Dedup.minhashWide(docs, "doc_id", col("text"), 8, 8)
    assert(native.count() == composed.count())
    assert(native.exceptAll(composed).isEmpty && composed.exceptAll(native).isEmpty)
  }

  test("short documents (len < k) hash the whole text, like the SQL") {
    import spark.implicits._
    val tiny = Seq((1L, "abc")).toDF("doc_id", "text")
    val native = Dedup.minhashWideNative(tiny, "doc_id", col("text"), 8, 2).head()
    val composed = Dedup.minhashWide(tiny, "doc_id", col("text"), 8, 2).head()
    assert(native.getString(1) == composed.getString(1))
    assert(native.getString(2) == composed.getString(2))
  }

  test("windows count code points: astral, multibyte BMP and empty text sign like minhashWide") {
    import spark.implicits._
    // "\uD83D\uDE00" is one character outside the BMP (two UTF-16 units,
    // four UTF-8 bytes); Spark's substring/length count it once
    val texts = Seq(
      "\uD83D\uDE00\uD83D\uDE01 emoji \uD83C\uDF89 party \uD83D\uDE80\uD83D\uDE80\uD83D\uDE80 go",
      // 7 code points, 11 UTF-16 units: one window at k = 8, not four
      "\uD83D\uDE00\uD83D\uDE00\uD83D\uDE00\uD83D\uDE00abc",
      "naïve café — Grüße, 東京の天気は晴れです",
      "")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val native = Dedup.minhashWideNative(docs, "doc_id", col("text"), 8, 8)
    val composed = Dedup.minhashWide(docs, "doc_id", col("text"), 8, 8)
    assert(native.count() == texts.size)
    assert(native.exceptAll(composed).isEmpty && composed.exceptAll(native).isEmpty,
      native.exceptAll(composed).collect().mkString("\n"))
  }
}
