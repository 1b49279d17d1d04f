package graft

import org.apache.spark.sql.functions._

import graft.analytics.Dedup
import graft.functions.SimHash

class SimHashNativeSpec extends SparkSuite {

  test("native expression equals the composed pipeline on fixtures") {
    val docs = graft.core.Tables.documents(spark, sf0001)
    val native = docs.select(col("doc_id"),
      SimHash.column(col("text"), 16).as("simhash"))
    val composed = Dedup.simhash(docs, "doc_id", col("text"), bits = 16)
    assert(native.exceptAll(composed).isEmpty && composed.exceptAll(native).isEmpty)
  }

  test("edge inputs: empty text, repeated/interior spaces") {
    import spark.implicits._
    val edge = Seq((1L, ""), (2L, "a  b"), (3L, "a b "), (4L, "x")).toDF("doc_id", "text")
    val native = edge.select(col("doc_id"), SimHash.column(col("text"), 16).as("simhash"))
    val composed = Dedup.simhash(edge, "doc_id", col("text"), bits = 16)
    assert(native.exceptAll(composed).isEmpty && composed.exceptAll(native).isEmpty)
  }
}
