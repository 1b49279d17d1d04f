package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Second-moment accumulator over quantized embedding vectors: one
  * mergeable aggregation buffer holding, in exact 64-bit integers,
  *
  *  - the upper triangle of `sum(q_i * q_j)` (d*(d+1)/2 entries),
  *  - the per-dimension `sum(q_i)` (d entries),
  *  - the row count (1 entry),
  *
  * i.e. everything a covariance matrix / PCA needs, in a buffer whose
  * size depends only on d — the distributed-covariance shape that holds
  * at 100 TB: map-side partial aggregation (each task folds its rows
  * into one fixed-size array), one tiny merge per partition, nothing
  * shuffled but the buffers. The alternatives all break at scale:
  * exploding to (i, j, q_i*q_j) rows multiplies the input by d(d+1)/2,
  * and collecting vectors to the driver is the anti-pattern.
  *
  * Exact-arithmetic contract: inputs are scale-1000 quantized longs
  * ([[graft.analytics.Similarity.quantize]]), so every buffer cell is an
  * integer DuckDB reproduces bit-exactly (q_embed_covariance's oracle
  * does the same sums via unnested pairs). Eval emits the flat buffer as
  * `array<long>`: [tri(0..T-1), s1(0..d-1), n], tri index
  * `i*d - i*(i-1)/2 + (j-i)` for i <= j.
  *
  * Buffer layout doubles as the serialized form (little-endian longs).
  */
case class VecOuterSum(child: Expression, d: Int,
                       mutableAggBufferOffset: Int = 0,
                       inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  private val tri = d * (d + 1) / 2
  private val total = tri + d + 1

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Array[Long] = new Array[Long](total)

  override def update(buf: Array[Long], row: InternalRow): Array[Long] = {
    val v = child.eval(row)
    if (v == null) return buf
    val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    require(arr.numElements() == d,
      s"VecOuterSum(d=$d) got a ${arr.numElements()}-dim vector")
    val q = arr.toLongArray()
    var i = 0
    var p = 0
    while (i < d) {
      val qi = q(i)
      var j = i
      while (j < d) {
        buf(p) += qi * q(j)
        p += 1
        j += 1
      }
      buf(tri + i) += qi
      i += 1
    }
    buf(total - 1) += 1L
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < total) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(total * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](total)
    ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VecOuterSum =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VecOuterSum =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): VecOuterSum =
    copy(child = newChild)
}

object VecOuterSum {
  /** Column API: the aggregate expression itself, wrapped through
    * [[GraftColumnBridge]] (use it in `.agg`). */
  def column(vec: Column, d: Int): Column =
    GraftColumnBridge.column(
      VecOuterSum(GraftColumnBridge.expression(vec), d).toAggregateExpression())
}
