package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native |A ∩ B| for two SORTED ascending arrays of distinct non-null
  * bigints — the per-pair kernel of the fused LSH verify
  * ([[graft.analytics.Dedup.lshVerifiedPairs]]).
  *
  * Why not `size(array_intersect(a, b))`: array_intersect builds a
  * SQLOpenHashSet over one side and probes the other PER EVALUATION —
  * under the bucket self-join that is a hash-set construction per
  * candidate pair (~10^11 hash inserts at sf100's 78M capped pairs with
  * ~1.3k-element shingle sets; the dominant constant left after the r15
  * fusion moved set movement off the pair multiplicity). The set arrays
  * are built ONCE per doc anyway, so sorting them there (an O(n log n)
  * paid once per doc) converts every pair evaluation into a single
  * O(|a|+|b|) primitive two-pointer merge: no allocation, no hashing,
  * stays inside whole-stage codegen.
  *
  * CONTRACT (analysis-enforced where possible): element type bigint with
  * containsNull=false (rejected otherwise by checkInputDataTypes); both
  * arrays sorted ascending with distinct elements (NOT checkable per row
  * without forfeiting the win — pinned instead by SortedIntersectSpec's
  * parity sweep against array_intersect, and by the sets coming from
  * [[ShingleSet]], whose sorted-distinct output ShingleSetSpec pins
  * against `sort_array(collect_set(..))`, or from
  * sort_array ∘ collect_set directly). On sorted distinct inputs the count is
  * bit-identical to `size(array_intersect(a, b))`; on UNSORTED or
  * duplicated input the merge silently undercounts — so a debug-only
  * per-row assertion (strictly-ascending check on both sides, throwing
  * with the offending position) can be enabled for new call-site
  * development via `-Dgraft.sortedIntersect.assert=true`. The flag is captured at expression
  * construction (plan time) so the hot path carries zero per-row branch
  * when off; production call sites never enable it.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  // plan-time capture: flipping the flag mid-query is not supported, and
  // the field serializes with the expression so executor-side eval sees
  // the driver's setting
  private val assertSorted: Boolean = SortedIntersectCount.assertEnabled

  override def prettyName: String = SortedIntersectCount.name

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(LongType, false) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${SortedIntersectCount.name} expects array<bigint> with non-null elements, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    if (assertSorted) {
      SortedIntersectCount.checkSorted(xs, "left")
      SortedIntersectCount.checkSorted(ys, "right")
    }
    val n = xs.numElements()
    val m = ys.numElements()
    var i = 0
    var j = 0
    var acc = 0L
    while (i < n && j < m) {
      val x = xs.getLong(i)
      val y = ys.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { acc += 1L; i += 1; j += 1 }
    }
    java.lang.Long.valueOf(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // debug-only contract check, compiled in ONLY when the flag was set
      // at plan time — the production generated code is branch-free
      val guard =
        if (assertSorted)
          s"""
            |graft.functions.SortedIntersectCount$$.MODULE$$.checkSorted($a, "left");
            |graft.functions.SortedIntersectCount$$.MODULE$$.checkSorted($b, "right");
          """.stripMargin
        else ""
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
        |$guard
        |${ev.value} = 0L;
        |int $i = 0;
        |int $j = 0;
        |final int $n = $a.numElements();
        |final int $m = $b.numElements();
        |while ($i < $n && $j < $m) {
        |  final long $x = $a.getLong($i);
        |  final long $y = $b.getLong($j);
        |  if ($x < $y) { $i++; }
        |  else if ($x > $y) { $j++; }
        |  else { ${ev.value}++; $i++; $j++; }
        |}
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {
  val name = "graft_sorted_intersect_count"

  /** Debug-only input-contract flag: when true, every evaluation verifies
    * both arrays are strictly ascending (which implies distinct) and
    * throws with the offending position instead of silently
    * undercounting. Read once per expression CONSTRUCTION (plan time). */
  def assertEnabled: Boolean =
    sys.props.get("graft.sortedIntersect.assert").contains("true")

  /** Strictly-ascending check; called from interpreted eval and from the
    * generated code's debug guard (hence public + ArrayData-typed). */
  def checkSorted(xs: ArrayData, side: String): Unit = {
    val n = xs.numElements()
    var i = 1
    while (i < n) {
      if (xs.getLong(i - 1) >= xs.getLong(i))
        throw new IllegalStateException(
          s"$name: $side input violates the sorted-distinct contract at " +
            s"index $i (${xs.getLong(i - 1)} >= ${xs.getLong(i)}); build " +
            "inputs via ShingleSet or sort_array(collect_set(..))")
      i += 1
    }
  }

  /** Column API: the expression itself, wrapped through [[GraftColumnBridge]]. */
  def column(a: Column, b: Column): Column =
    GraftColumnBridge.column(SortedIntersectCount(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
}
