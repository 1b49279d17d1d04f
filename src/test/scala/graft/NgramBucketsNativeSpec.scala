package graft

import org.apache.spark.sql.functions._

import graft.functions.NgramBuckets

/** Byte-parity of the native hashed-ngram bucket expression against the
  * composed-builtins form it replaced (split → concat(ws, bigram HOF) →
  * explode → conv(substring(md5, 1, 15), 16, 10) % B) — the leading-60-
  * bits shortcut must agree with the hex-string parse on every gram,
  * including tokenization edges.
  */
class NgramBucketsNativeSpec extends SparkSuite {
  import spark.implicits._

  private val B = 4096L

  private def composed(d: org.apache.spark.sql.DataFrame) =
    d.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"),
        explode(concat(col("ws"), QueriesTraining.wordNgrams(col("ws"), 2))).as("g"))
      .select(col("doc_id"),
        pmod(conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long"),
          lit(B)).as("b"))

  private def native(d: org.apache.spark.sql.DataFrame) = {
    d.select(col("doc_id"), explode(NgramBuckets.column(col("text"), 2, B)).as("b"))
  }

  test("native buckets equal the composed form on the fixture corpus") {
    val docs = graft.core.Tables.documents(spark, sf0001)
    val n = native(docs)
    val c = composed(docs)
    assert(n.count() == c.count() && n.count() > 0)
    assert(n.exceptAll(c).isEmpty && c.exceptAll(n).isEmpty)
  }

  test("tokenization and digest edges: empty tokens, trailing space, multi-byte, single token") {
    val tricky = Seq(
      (1L, "a  b c"),        // double space -> empty interior token
      (2L, "a b c "),        // trailing space -> trailing empty token kept
      (3L, "日本 語 テスト x"), // multi-byte UTF-8
      (4L, "solo"),          // below bigram size -> unigram only
      (5L, "")).toDF("doc_id", "text")
    val n = native(tricky)
    val c = composed(tricky)
    assert(n.exceptAll(c).isEmpty && c.exceptAll(n).isEmpty)
    // JVM reference: bucket == leading 60 bits of the md5, mod B
    val got = native(tricky.filter(col("doc_id") === 4L)).collect()
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest("solo".getBytes("UTF-8"))
    var v = 0L
    (0 until 8).foreach(j => v = (v << 8) | (d(j) & 0xffL))
    assert(got.map(_.getLong(1)).toSeq == Seq((v >>> 4) % B))
  }
}
