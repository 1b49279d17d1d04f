package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** All Gopher-style repetition counters of a document in ONE expression
  * evaluation: (n_tok, n_distinct_tok, top_tok_n, n_tri, n_distinct_tri)
  * as a struct of longs.
  *
  * Value-identical to the composed form ([[graft.QueriesTraining]]
  * `repetition` — Spark `split(text, " ")` with trailing empties kept,
  * trigrams space-joined) and the DuckDB oracle's grouped counts. The
  * composed top-multiplicity (`array_max(transform(array_distinct(ws),
  * t => size(filter(ws, _ == t))))`) is an interpreted HOF chain and
  * O(distinct × n) per document; this is one O(n) hash-map pass — count
  * multiplicities once, track the max, count trigram distincts with a
  * set of joined windows.
  *
  * `CodegenFallback` by the same trade as [[MinHashSignature]]: the
  * per-row loop dominates; one virtual call per row is noise.
  */
case class TokenStats(child: Expression) extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("n_tok", LongType, nullable = false),
    StructField("n_distinct_tok", LongType, nullable = false),
    StructField("top_tok_n", LongType, nullable = false),
    StructField("n_tri", LongType, nullable = false),
    StructField("n_distinct_tri", LongType, nullable = false)))

  override def nullSafeEval(input: Any): Any = {
    val tokens = input.asInstanceOf[UTF8String].toString.split(" ", -1)
    val n = tokens.length
    val counts = new java.util.HashMap[String, Int](n * 2)
    var top = 0
    var i = 0
    while (i < n) {
      val c = counts.merge(tokens(i), 1, Integer.sum)
      if (c > top) top = c
      i += 1
    }
    var nTri = 0L
    var nDistinctTri = 0L
    if (n >= 3) {
      nTri = (n - 2).toLong
      val tris = new java.util.HashSet[String](n * 2)
      val sb = new java.lang.StringBuilder
      var p = 0
      while (p <= n - 3) {
        sb.setLength(0)
        sb.append(tokens(p)).append(' ').append(tokens(p + 1)).append(' ')
          .append(tokens(p + 2))
        tris.add(sb.toString)
        p += 1
      }
      nDistinctTri = tris.size.toLong
    }
    InternalRow(n.toLong, counts.size.toLong, top.toLong, nTri, nDistinctTri)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenStats {
  /** Column API: the expression itself, wrapped through [[GraftColumnBridge]]. */
  def column(text: Column): Column =
    GraftColumnBridge.column(TokenStats(GraftColumnBridge.expression(text)))
}
