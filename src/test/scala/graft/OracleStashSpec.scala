package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.{col, reverse}

/** Data-dependent oracles are looked up by the dir their query ran on:
  * whichever dir ran last, each dir's oracle carries the literals its own
  * run trained.
  */
class OracleStashSpec extends SparkSuite {

  test("q_bpe_tokenize oracle literals follow the dir the query ran on") {
    val a = sf0001
    // same schema, different documents: every word reversed, so the
    // trained merges (and the oracle's replace chain) differ
    val b = Files.createTempDirectory("graft-oracle-stash").toString
    graft.core.Tables.documents(spark, a)
      .withColumn("text", reverse(col("text")))
      .write.parquet(s"$b/documents.parquet")
    def bpeOracle(dir: String): Option[String] =
      SparkEntry.oracleSql(dir).get("q_bpe_tokenize")

    QueriesTraining.bpeTokenize(spark, a)
    val oa = bpeOracle(a)
    QueriesTraining.bpeTokenize(spark, b)
    val ob = bpeOracle(b)
    assert(oa.isDefined && ob.isDefined)
    assert(oa != ob, "the two corpora must train different merge chains")
    assert(bpeOracle(a) == oa, "running on b replaced a's literals")
    QueriesTraining.bpeTokenize(spark, a)
    assert(bpeOracle(a) == oa && bpeOracle(b) == ob,
      "running on a again replaced b's literals")

    val never = Files.createTempDirectory("graft-oracle-never").toString
    assert(!SparkEntry.oracleSql(never).contains("q_bpe_tokenize"),
      "a dir no query ran on must have no data-dependent oracle")
  }
}
