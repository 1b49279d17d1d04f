package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Byte-budget gate for hybrid driver-path decisions.
  *
  * The CC and PageRank hybrids collect a (src, dst) edge list to the
  * driver when it is "small". An edge-COUNT cap alone is unsafe: the
  * per-edge footprint depends on the key type (a 200-char string key is
  * ~20× a boxed long), so a wide-key graph could sit below the count cap
  * and still collect past driver memory. This gate estimates the
  * collected + iterated footprint in BYTES and compares it against a
  * fraction of the driver's currently-free heap, so the decision adapts
  * to both the key width and the memory actually available.
  *
  * Estimation model (intentionally conservative):
  *   - collected `Array[Row]`: per edge, a GenericRow + Object[] wrapper
  *     (~64 B) plus two boxed keys (Long ~24 B, Int ~16 B, String
  *     ~48 B + 2×chars — measured JVM shapes, compressed oops);
  *   - iteration state (union-find / dense-index maps): roughly one
  *     HashMap entry per endpoint → ×2 on top of the collect.
  * Variable-width keys are sampled (one bounded scan of ≤ [[SampleRows]]
  * rows) rather than assumed.
  */
object DriverBudget {

  /** Max rows scanned to estimate a variable-width key's average size. */
  val SampleRows = 10000

  /** Fraction of free driver heap a driver-path collect may claim.
    * Overridable for tests / constrained drivers via
    * `-Dgraft.driverCap.heapFraction=`.
    */
  def heapFraction: Double =
    sys.props.get("graft.driverCap.heapFraction").map(_.toDouble).getOrElse(0.25)

  /** Bytes of heap still growable-into: max heap minus live used. */
  def freeHeapBytes: Long = {
    val rt = Runtime.getRuntime
    rt.maxMemory() - (rt.totalMemory() - rt.freeMemory())
  }

  /** Estimated boxed width of one key of `dt`; None → variable width,
    * must be sampled.
    */
  private def fixedBoxedWidth(dt: DataType): Option[Long] = dt match {
    case IntegerType | ShortType | ByteType | FloatType => Some(16L)
    case LongType | DoubleType | TimestampType | DateType => Some(24L)
    case BooleanType => Some(16L)
    case _ => None // StringType, BinaryType, Decimal, structs…
  }

  /** Estimated driver-heap bytes to collect and iterate one (src, dst)
    * edge of `edges`. One bounded sampling scan only when a key type is
    * variable-width.
    */
  private def bytesPerEdge(edges: DataFrame, srcCol: String, dstCol: String): Long = {
    def width(colName: String): Long = fixedBoxedWidth(edges.schema(colName).dataType).getOrElse {
      // variable-width: String object (~40 B header+fields) + UTF-16
      // payload; sample the average length from a bounded prefix scan
      val avgLen = edges.select(col(colName)).limit(SampleRows)
        .select(avg(length(col(colName).cast("string"))).as("l"))
        .collect().headOption.flatMap(r => Option(r.get(0)))
        .map(_.asInstanceOf[Double]).getOrElse(32.0)
      48L + 2L * math.ceil(avgLen).toLong
    }
    // ×3: collected rows + interning/union-find maps (~1 entry per
    // endpoint, entry ≈ key again + 48 B of HashMap overhead)
    3L * (64L + width(srcCol) + width(dstCol))
  }

  /** Estimated driver-heap bytes to collect and iterate `edgeCount`
    * (src, dst) rows of `edges`.
    */
  def estimateEdgeBytes(edges: DataFrame, edgeCount: Long,
                        srcCol: String = "src", dstCol: String = "dst"): Long =
    bytesPerEdge(edges, srcCol, dstCol) * math.max(edgeCount, 0L)

  /** The most (src, dst) edges of `edges` whose collect fits the budget:
    * heapFraction × free heap over the per-edge estimate — the edge count
    * at which [[fitsDriver]] turns false, without counting the edges.
    */
  def edgesAdmitted(edges: DataFrame, srcCol: String, dstCol: String): Long =
    (heapFraction * freeHeapBytes).toLong / bytesPerEdge(edges, srcCol, dstCol)

  /** True when collecting `edgeCount` edges of `edges` fits the budget:
    * estimated bytes ≤ heapFraction × free heap. Callers AND this with
    * their edge-count cap — the count cap bounds driver CPU, this bounds
    * driver memory.
    */
  def fitsDriver(edges: DataFrame, edgeCount: Long,
                 srcCol: String = "src", dstCol: String = "dst"): Boolean =
    estimateEdgeBytes(edges, edgeCount, srcCol, dstCol) <=
      (heapFraction * freeHeapBytes).toLong
}
