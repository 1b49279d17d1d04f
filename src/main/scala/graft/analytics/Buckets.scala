package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Shared bucket-join machinery for every LSH family (MinHash bands,
  * hyperplane bands, SimHash pigeonhole bands).
  */
object Buckets {

  /** Candidate pairs from shared (band, band_key) buckets with a
    * population skew cap: buckets above `maxBucket` are dropped from pair
    * expansion — a hot bucket IS a near-dup cluster and must be surfaced
    * as one, never as O(n²) pairs. Bounds worst-case expansion to
    * maxBucket²/2 per bucket at any corpus size.
    *
    * No pin: both sides of the bucket self-join sit above the bucket-size
    * window's one (band, band_key) exchange, which Spark plans once and
    * reads twice as a `ReusedExchange`, so the band-key pipeline below it
    * (the MinHash or SimHash signatures) runs once. The join is a merge
    * join: the window's output is already partitioned and sorted on the
    * join key, so it needs no exchange or sort of its own, where a
    * broadcast join would run the window again for its build side and
    * ship those rows through the driver. A cached `banded` loses the
    * reuse: adaptive execution gives each side its own cached scan stage,
    * and the window exchange above it is planned twice.
    *
    * @param banded (band, band_key, idCol [, carry...]) rows
    * @param carry  extra columns to carry onto both sides of each pair,
    *               emitted as `<name>_a` / `<name>_b`
    */
  def cappedPairs(banded: DataFrame, idCol: String, maxBucket: Int,
                  outA: String, outB: String,
                  carry: Seq[String] = Nil): DataFrame = {
    val capped = banded
      .withColumn("_n", count(lit(1)).over(
        Window.partitionBy(col("band"), col("band_key"))))
      .filter(col("_n") <= maxBucket)
      .drop("_n")
    def side(suffix: String, outId: String) =
      capped.select((Seq(col("band"), col("band_key"), col(idCol).as(outId)) ++
        carry.map(c => col(c).as(s"$c$suffix"))): _*)
    side("_a", outA).hint("merge").join(side("_b", outB), Seq("band", "band_key"))
      .filter(col(outA) < col(outB))
      .select((Seq(col(outA), col(outB)) ++
        carry.flatMap(c => Seq(col(s"${c}_a"), col(s"${c}_b")))): _*)
      .distinct()
  }
}
