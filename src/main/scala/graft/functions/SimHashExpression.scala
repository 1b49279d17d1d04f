package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native SimHash: the `bits`-bit signature of a document in one
  * expression evaluation.
  *
  * Bit-identical to the composed pipeline (`Dedup.simhash`) and the DuckDB
  * oracle: token = space-split word, bit b weighted +1 when the high bit
  * of md5 hex nibble b is set (hex char in [89abcdef]) else -1, signature
  * bit = weight sum > 0. Removes the token explode and BOTH aggregation
  * shuffles — the signature never leaves the scan task.
  */
case class SimHash(child: Expression, bits: Int)
    extends UnaryExpression with CodegenFallback {

  require(bits <= 16, "one hex nibble per bit, md5 high nibbles give 16")

  override def dataType: DataType = LongType

  @transient private lazy val digests = ThreadLocal.withInitial(
    new java.util.function.Supplier[MessageDigest] {
      override def get(): MessageDigest = MessageDigest.getInstance("MD5")
    })

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
    val md = digests.get()
    val weights = new Array[Int](bits)
    // Spark's split(col, " ") uses limit -1: interior AND trailing empty
    // tokens kept (they hash too)
    val tokens = text.split(" ", -1)
    var t = 0
    while (t < tokens.length) {
      md.reset()
      val d = md.digest(tokens(t).getBytes("UTF-8"))
      var b = 0
      while (b < bits) {
        // hex char b is the high nibble of byte b/2 when b even, low when odd
        val nibble = if ((b & 1) == 0) (d(b >> 1) >> 4) & 0xf else d(b >> 1) & 0xf
        weights(b) += (if (nibble >= 8) 1 else -1)
        b += 1
      }
      t += 1
    }
    var sig = 0L
    var b = 0
    while (b < bits) {
      if (weights(b) > 0) sig |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash {
  /** Column API: the expression itself, wrapped through [[GraftColumnBridge]]. */
  def column(text: Column, bits: Int): Column =
    GraftColumnBridge.column(SimHash(GraftColumnBridge.expression(text), bits))
}
