package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge

/** Element-wise vector sum over an array<float> column — the aggregate a
  * centroid/IVF-training loop needs (`avg` = vec_sum / count).
  *
  * Custom aggregate rationale (SURVEY.md §7.4 escalation (b)): built-ins
  * can express this only as posexplode + groupBy(key, pos) + re-collect —
  * an extra shuffle whose width is dim× the row count. This
  * TypedImperativeAggregate keeps ONE mutable double[dim] buffer per group
  * per partition (the same shape as mllib's aggregators), merges buffers
  * across partitions, and never explodes.
  *
  * Null semantics: null arrays are ignored (like built-in sum); null
  * ELEMENTS are treated as 0. Result is null only for groups with no
  * non-null input. Mixed dimensions: the widest input wins, shorter
  * vectors are zero-padded.
  */
case class VectorSum(child: Expression,
                     mutableAggBufferOffset: Int = 0,
                     inputAggBufferOffset: Int = 0)
  extends DoubleArraySum {

  override def prettyName: String = "vec_sum"

  private def grow(buf: Array[Double], n: Int): Array[Double] =
    if (buf.length >= n) buf else java.util.Arrays.copyOf(buf, n)

  override def update(buf: Array[Double], input: InternalRow): Array[Double] = {
    val v = child.eval(input)
    if (v == null) return buf
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = grow(buf, n)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        out(i) += elem(arr, i)
      }
      i += 1
    }
    out
  }

  override def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
    val out = grow(a, b.length)
    var i = 0
    while (i < b.length) { out(i) += b(i); i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(o: Int): VectorSum =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): VectorSum =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): VectorSum = copy(child = c.head)
}

object VectorAggregates {

  /** Column entry point: element-wise sum of vectors per group. */
  def vecSum(c: Column): Column =
    Bridge.column(VectorSum(Bridge.expression(c)).toAggregateExpression())
}
