package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** All `w`-token sliding-window hashes of a document in ONE expression
  * evaluation: an array of (pos, md5-hex) structs, `pos` 1-based over the
  * space-split token sequence — the window inventory of exact
  * repeated-substring dedup.
  *
  * Bit-identical to the composed form (`split` → `transform(sequence(…))`
  * with `md5(concat_ws(" ", element_at…))` per window, and the DuckDB
  * oracle's `md5(array_to_string(w[pos:pos+w-1], ' '))`): tokenization is
  * Spark's `split(text, " ")` with limit -1 (interior AND trailing empty
  * tokens kept), and the digest runs over the UTF-8 bytes of the
  * space-joined window. But where the HOF lambda is interpreted per
  * WINDOW (higher-order functions are CodegenFallback, so every window
  * re-walks an expression tree of w `element_at`s + concat + md5), this
  * evaluates per DOCUMENT: tokens are UTF-8-encoded once, each window
  * streams `w` cached byte arrays through one reused MessageDigest —
  * no per-window string materialization at all. Measured 46 s → ~3 s on
  * the sf0.1 corpus.
  *
  * `CodegenFallback` is deliberate (same trade as [[MinHashSignature]]):
  * the per-row digest loop dominates; staying out of generated code costs
  * one virtual call per row.
  */
case class TokenWindowHashes(child: Expression, w: Int)
    extends UnaryExpression with CodegenFallback {

  require(w >= 1, "window must span at least one token")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("pos", LongType, nullable = false),
      StructField("h", StringType, nullable = false))),
    containsNull = false)

  @transient private lazy val digests = ThreadLocal.withInitial(
    new java.util.function.Supplier[MessageDigest] {
      override def get(): MessageDigest = MessageDigest.getInstance("MD5")
    })

  private val hexChars = "0123456789abcdef".toCharArray

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
    val tokens = text.split(" ", -1)
    val n = tokens.length
    if (n < w) return new GenericArrayData(Array.empty[Any])
    val bytes = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) { bytes(i) = tokens(i).getBytes("UTF-8"); i += 1 }
    val md = digests.get()
    val out = new Array[Any](n - w + 1)
    var p = 0
    while (p <= n - w) {
      md.reset()
      var k = 0
      while (k < w) {
        if (k > 0) md.update(' '.toByte)
        md.update(bytes(p + k))
        k += 1
      }
      val d = md.digest()
      val hex = new Array[Char](32)
      var j = 0
      while (j < 16) {
        hex(2 * j) = hexChars((d(j) >> 4) & 0xf)
        hex(2 * j + 1) = hexChars(d(j) & 0xf)
        j += 1
      }
      out(p) = InternalRow((p + 1).toLong, UTF8String.fromString(new String(hex)))
      p += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenWindowHashes {
  /** Column API: the expression itself, wrapped through [[GraftColumnBridge]]. */
  def column(text: Column, w: Int): Column =
    GraftColumnBridge.column(TokenWindowHashes(GraftColumnBridge.expression(text), w))
}
