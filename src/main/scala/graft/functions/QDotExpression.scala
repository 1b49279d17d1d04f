package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Native integer dot product of two quantized (array<bigint>) vectors.
  *
  * Bit-identical to the composed form
  * `aggregate(zip_with(a, b, _ * _), 0L, _ + _)` — but that form is an
  * interpreted higher-order function that materializes a zipped array
  * and runs two lambda closures per element PER PAIR; under a kNN
  * cross join that allocation happens once per (query, candidate) pair
  * and dominates the scan. This is one virtual call per pair with a
  * tight primitive loop over the ArrayData — no allocation at all.
  */
case class QDot(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  // returns null on length mismatch / null elements even when both
  // children are declared non-nullable
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    // Parity with the composed form's null algebra: zip_with pads the
    // shorter array with nulls and `acc + null` is null, so unequal
    // lengths or any null element must yield NULL — not a prefix/zeroed
    // dot that could silently enter a top-k
    if (xs.numElements() != ys.numElements()) return null
    val n = xs.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i) || ys.isNullAt(i)) return null
      acc += xs.getLong(i) * ys.getLong(i)
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object QDot {
  /** Column API: the expression itself, wrapped through [[GraftColumnBridge]]. */
  def column(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      QDot(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
}
