package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native MinHash signature: the full k-shingle / rotation-family
  * signature of a document in ONE expression evaluation.
  *
  * Computes exactly what the composed pipeline
  * ([[graft.analytics.Dedup.minhashWide]]: shingles → md5 → 8 rotated
  * mins, and the DuckDB oracle SQL) computes — hash function `s` orders
  * shingles by the md5 hex string rotated left by 4*s chars — but per ROW
  * instead of per exploded shingle-row: no n× row materialization, no
  * aggregation shuffle. A document's signature never leaves the task that
  * read it; at 100 TB the signature stage becomes embarrassingly parallel
  * scan work.
  *
  * Windows are k CODE POINTS, cut by [[ShingleWindows]] the way Spark's
  * `substring`/`length` and the oracle cut them, so text outside the BMP
  * (emoji) signs the same here as in the composed form.
  *
  * Cost model: per shingle, one MD5 over the window's bytes in place
  * (`update(bytes, off, len)`, then `digest` into a reused 16-byte buffer)
  * and numHashes two-long compares; nothing is allocated. The digest is
  * kept as two big-endian longs: rotating its 32-char hex left by 4·s
  * chars is rotating the 128-bit value left by 16·s bits, and lowercase
  * hex strings of one length order as their values do unsigned
  * (`Long.compareUnsigned`). Only the numHashes winners are hex-encoded,
  * once per document. Per document that leaves the code-point offsets,
  * the digest buffer, two long arrays of minimums and the output.
  *
  * `CodegenFallback` is deliberate: the per-row digest loop dominates, and
  * keeping the expression out of generated code costs one virtual call per
  * row. MessageDigest is allocated per-thread.
  */
case class MinHashSignature(child: Expression, k: Int, numHashes: Int)
    extends UnaryExpression with CodegenFallback {

  require(numHashes <= 8, "rotation family uses 4-char steps over 32 hex chars")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable

  @transient private lazy val digests = ThreadLocal.withInitial(
    new java.util.function.Supplier[MessageDigest] {
      override def get(): MessageDigest = MessageDigest.getInstance("MD5")
    })

  override def nullSafeEval(input: Any): Any = {
    val w = new ShingleWindows(input.asInstanceOf[UTF8String], k)
    val md = digests.get()
    md.reset()
    val d = new Array[Byte](16)
    val minHi = new Array[Long](numHashes)
    val minLo = new Array[Long](numHashes)
    var i = 0
    while (i < w.count) {
      md.update(w.bytes, w.start(i), w.end(i) - w.start(i))
      md.digest(d, 0, 16)
      val hi = MinHashSignature.bigEndian(d, 0)
      val lo = MinHashSignature.bigEndian(d, 8)
      var s = 0
      while (s < numHashes) {
        // rotl128((hi, lo), 16·s): swap halves past 64 bits, then shift
        val a = if (s < 4) hi else lo
        val b = if (s < 4) lo else hi
        val q = (16 * s) & 63
        val rh = if (q == 0) a else (a << q) | (b >>> (64 - q))
        val rl = if (q == 0) b else (b << q) | (a >>> (64 - q))
        val c = java.lang.Long.compareUnsigned(rh, minHi(s))
        if (i == 0 || c < 0 || (c == 0 && java.lang.Long.compareUnsigned(rl, minLo(s)) < 0)) {
          minHi(s) = rh
          minLo(s) = rl
        }
        s += 1
      }
      i += 1
    }
    val out = new Array[Any](numHashes)
    var s = 0
    while (s < numHashes) {
      out(s) = MinHashSignature.hex(minHi(s), minLo(s))
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSignature {
  private val hexDigits = "0123456789abcdef".getBytes("US-ASCII")

  private def bigEndian(d: Array[Byte], off: Int): Long = {
    var v = 0L
    var j = 0
    while (j < 8) { v = (v << 8) | (d(off + j) & 0xffL); j += 1 }
    v
  }

  /** The 32-char lowercase hex of the 128-bit value (hi, lo). */
  private def hex(hi: Long, lo: Long): UTF8String = {
    val out = new Array[Byte](32)
    var j = 0
    while (j < 16) {
      out(j) = hexDigits(((hi >>> (60 - 4 * j)) & 0xf).toInt)
      out(16 + j) = hexDigits(((lo >>> (60 - 4 * j)) & 0xf).toInt)
      j += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Column API: minhash signature array for a text column (the
    * expression itself, wrapped through [[GraftColumnBridge]]). */
  def signature(text: Column, k: Int, numHashes: Int): Column =
    GraftColumnBridge.column(
      MinHashSignature(GraftColumnBridge.expression(text), k, numHashes))
}
