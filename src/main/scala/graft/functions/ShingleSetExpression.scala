package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The k-character shingle windows of one document, cut exactly as
  * [[graft.analytics.Dedup.shingles]] cuts them in SQL:
  * `substring(text, pos, k)` for `pos` in `1 .. greatest(length(text) - (k - 1), 1)`.
  * Characters are CODE POINTS, counted the way `UTF8String` counts them
  * (`numBytesForFirstByte`), so a character outside the BMP is one
  * character, not two UTF-16 units. A text shorter than k (the empty text
  * included) is one window: the whole text.
  *
  * Window `i` is `bytes[start(i), end(i))`. `bytes` is the string's own
  * backing array when it has one, so walking the windows copies nothing.
  */
private[functions] final class ShingleWindows(text: UTF8String, k: Int) {
  private val onHeap = text.getBaseObject.isInstanceOf[Array[Byte]]
  val bytes: Array[Byte] =
    if (onHeap) text.getBaseObject.asInstanceOf[Array[Byte]] else text.getBytes
  private val first =
    if (onHeap) (text.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt else 0
  /** Byte index of each code point's first byte, then the end index. */
  private val starts = new Array[Int](text.numBytes + 1)
  private val nChars: Int = {
    val last = first + text.numBytes
    var n = 0
    var i = first
    while (i < last) {
      starts(n) = i
      n += 1
      i += UTF8String.numBytesForFirstByte(bytes(i))
    }
    starts(n) = last // a truncated final sequence ends at the string's end
    n
  }

  val count: Int = math.max(nChars - (k - 1), 1)
  def start(i: Int): Int = starts(i)
  def end(i: Int): Int = starts(math.min(i + k, nChars))
}

/** A document's distinct shingle hashes, sorted ascending: the set
  * [[SortedIntersectCount]] intersects in the n-gram Jaccard verify
  * ([[graft.analytics.Dedup.lshVerifiedPairs]], [[graft.analytics.Dedup.ngramJaccard]]).
  * Both build each candidate document's set once per query, with no pin
  * (DedupPlanSpec checks for one node evaluating it per plan).
  *
  * Bit-identical to the composed
  * `sort_array(collect_set(xxhash64(shingle)))` over
  * [[graft.analytics.Dedup.shingles]] grouped by document, including its
  * null case: a null text is one null shingle, which `xxhash64` hashes to
  * its seed, so the set is `[42]`. Computed per ROW instead: each window
  * of [[ShingleWindows]] is hashed in place with `XXH64(seed 42)` over the
  * string's bytes, and the document's hashes are sorted and de-duplicated
  * in one primitive array. The composed form exploded ~600 rows per
  * document, a substring and a hash row each, then shuffled them into a
  * `collect_set` aggregate; here nothing leaves the row.
  *
  * `CodegenFallback` is deliberate: the per-row hash loop dominates;
  * staying interpreted costs one virtual call per row.
  */
case class ShingleSet(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  require(k >= 1, "shingles are at least one character")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val text = child.eval(input)
    if (text == null) return UnsafeArrayData.fromPrimitiveArray(Array(ShingleSet.Seed))
    val w = new ShingleWindows(text.asInstanceOf[UTF8String], k)
    val hs = new Array[Long](w.count)
    var i = 0
    while (i < w.count) {
      hs(i) = XXH64.hashUnsafeBytes(w.bytes, Platform.BYTE_ARRAY_OFFSET + w.start(i),
        w.end(i) - w.start(i), ShingleSet.Seed)
      i += 1
    }
    java.util.Arrays.sort(hs)
    var n = 1
    i = 1
    while (i < hs.length) {
      if (hs(i) != hs(n - 1)) { hs(n) = hs(i); n += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(if (n == hs.length) hs else java.util.Arrays.copyOf(hs, n))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleSet {
  /** Spark's `xxhash64` seed. */
  val Seed = 42L

  /** Column API: the expression itself, wrapped through [[GraftColumnBridge]]. */
  def column(text: Column, k: Int): Column =
    GraftColumnBridge.column(ShingleSet(GraftColumnBridge.expression(text), k))
}
