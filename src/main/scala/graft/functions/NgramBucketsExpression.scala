package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** All 1..maxN-token n-gram HASH BUCKETS of a document in one expression
  * evaluation: an array of longs, one per n-gram occurrence, unigrams
  * first then bigrams (etc.) in token order — the feature extraction of
  * hashed-ngram importance resampling ([[graft.QueriesTraining.dsirSelect]]).
  *
  * Bit-identical to the composed form
  * `pmod(conv(substring(md5(g), 1, 15), 16, 10) % buckets)` over
  * `explode(concat(ws, transform(sequence(…), concat_ws(" ", …))))`:
  * the first 15 hex chars of an md5 are the digest's leading 60 bits,
  * so the bucket is `(bigEndianLong(digest[0..7]) >>> 4) % buckets` —
  * no hex string is ever materialized. Like [[TokenWindowHashes]] (the
  * 46 s → 3 s precedent this copies), tokens are UTF-8-encoded once per
  * document and every window streams cached byte arrays through one
  * reused MessageDigest; the HOF-composed form re-walks an interpreted
  * expression tree per GRAM (higher-order-function lambdas are
  * CodegenFallback) and allocates a string plus a 32-char hex per gram.
  * Measured on the sf10 gram stage (55M grams, 500k docs): 145 s
  * composed → 33 s native (remaining cost is explode + the DISK_ONLY
  * block write, not hashing).
  *
  * `CodegenFallback` is deliberate: the per-row digest loop dominates;
  * staying interpreted costs one virtual call per row.
  */
case class NgramBuckets(child: Expression, maxN: Int, buckets: Long)
    extends UnaryExpression with CodegenFallback {

  require(maxN >= 1, "need at least unigrams")
  require(buckets >= 1, "need at least one bucket")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val digests = ThreadLocal.withInitial(
    new java.util.function.Supplier[MessageDigest] {
      override def get(): MessageDigest = MessageDigest.getInstance("MD5")
    })

  override def nullSafeEval(input: Any): Any = {
    val tokens = input.asInstanceOf[UTF8String].toString.split(" ", -1)
    val t = tokens.length
    val bytes = new Array[Array[Byte]](t)
    var i = 0
    while (i < t) { bytes(i) = tokens(i).getBytes("UTF-8"); i += 1 }
    val md = digests.get()
    var total = 0
    var n = 1
    while (n <= maxN) { total += math.max(0, t - n + 1); n += 1 }
    val out = new Array[Long](total)
    var o = 0
    n = 1
    while (n <= maxN) {
      var p = 0
      while (p <= t - n) {
        md.reset()
        var k = 0
        while (k < n) {
          if (k > 0) md.update(' '.toByte)
          md.update(bytes(p + k))
          k += 1
        }
        val d = md.digest()
        // leading 60 bits of the digest == conv(first 15 hex chars, 16, 10)
        var v = 0L
        var j = 0
        while (j < 8) { v = (v << 8) | (d(j) & 0xffL); j += 1 }
        out(o) = (v >>> 4) % buckets
        o += 1
        p += 1
      }
      n += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NgramBuckets {
  /** Column API: the expression itself, wrapped through [[GraftColumnBridge]]. */
  def column(text: Column, maxN: Int, buckets: Long): Column =
    GraftColumnBridge.column(
      NgramBuckets(GraftColumnBridge.expression(text), maxN, buckets))
}
