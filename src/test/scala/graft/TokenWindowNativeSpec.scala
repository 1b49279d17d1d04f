package graft

import org.apache.spark.sql.functions._

import graft.functions.TokenWindowHashes

/** Byte-parity of the native sliding-window hash expression against the
  * composed-builtins form it replaced (split → transform(sequence) →
  * md5(concat_ws)) and against a plain-JVM reference — tokenization
  * edge cases (empty tokens, trailing spaces, multi-byte UTF-8) included.
  */
class TokenWindowNativeSpec extends SparkSuite {
  import spark.implicits._

  private def composed(d: org.apache.spark.sql.DataFrame, w: Int) =
    d.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"),
        when(size(col("ws")) >= w,
          transform(sequence(lit(1), size(col("ws")) - (w - 1)),
            i => struct(i.cast("long").as("pos"),
              md5(concat_ws(" ",
                (0 until w).map(k => element_at(col("ws"), i + k)): _*)).as("h"))))
          .otherwise(array().cast("array<struct<pos:bigint,h:string>>")).as("wa"))
      .select(col("doc_id"), explode(col("wa")).as("wp"))
      .select(col("doc_id"), col("wp.pos").as("pos"), col("wp.h").as("h"))

  private def native(d: org.apache.spark.sql.DataFrame, w: Int) = {
    d.select(col("doc_id"),
        explode(TokenWindowHashes.column(col("text"), w)).as("wp"))
      .select(col("doc_id"), col("wp.pos").as("pos"), col("wp.h").as("h"))
  }

  test("native windows equal the composed-HOF windows on the fixture corpus") {
    val docs = graft.core.Tables.documents(spark, sf0001)
    val n = native(docs, 12)
    val c = composed(docs, 12)
    assert(n.count() == c.count() && n.count() > 0)
    assert(n.exceptAll(c).isEmpty && c.exceptAll(n).isEmpty)
  }

  test("tokenization edges: empty tokens, trailing space, multi-byte text") {
    val tricky = Seq(
      (1L, "a  b c"),     // double space -> empty interior token
      (2L, "a b c "),     // trailing space -> trailing empty token kept
      (3L, "日本 語 テスト x"), // multi-byte UTF-8
      (4L, "a b"),        // below window size
      (5L, "")).toDF("doc_id", "text")
    val n = native(tricky, 3)
    val c = composed(tricky, 3)
    assert(n.exceptAll(c).isEmpty && c.exceptAll(n).isEmpty)
    // JVM reference on the trickiest row
    val got = n.filter(col("doc_id") === 1L).orderBy(col("pos"))
      .collect().map(r => (r.getLong(1), r.getString(2)))
    val toks = "a  b c".split(" ", -1)
    val want = (0 to toks.length - 3).map { p =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(toks.slice(p, p + 3).mkString(" ").getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      ((p + 1).toLong, hex)
    }
    assert(got.toSeq == want)
  }
}
