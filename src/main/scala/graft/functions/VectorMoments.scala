package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge

/** One-pass second-moment accumulator over an array<float|double> column:
  * count, element sums, and the upper-triangle Gram matrix Σ v·vᵀ — the
  * sufficient statistics for mean/covariance/PCA, reduced in a SINGLE
  * aggregation scan.
  *
  * Custom aggregate rationale (SURVEY.md §7.4 escalation (b), the
  * [[VectorSum]] argument one moment higher): built-ins could express the
  * Gram only as a dim² posexplode self-pairing — a shuffle dim²× the row
  * count (4096× at dim 64). This keeps ONE mutable double buffer of
  * 1 + d + d(d+1)/2 entries per partition, does the d(d+1)/2 multiply-adds
  * per row in a tight loop, and merges buffers across partitions — the
  * covariance pass costs O(n·d²) flops and ships O(d²) bytes, independent
  * of corpus size. That is exactly how a 100 TB covariance/PCA fit must
  * run: the driver sees one 33 KB row, never the data.
  *
  * Layout of the result array (all doubles): [n, sum_0..d-1,
  * gram upper triangle row-major: (0,0),(0,1)..(0,d-1),(1,1)..(d-1,d-1)].
  *
  * Null arrays are ignored (like built-in sum); the FIRST non-null vector
  * fixes the dimension and any later mismatch throws (a training-embedding
  * column with ragged dimensions is corrupt input, not something to
  * zero-pad silently — unlike [[VectorSum]], the triangle layout cannot be
  * re-indexed after the fact). Null ELEMENTS read as 0.
  */
case class VectorMoments(child: Expression,
                         mutableAggBufferOffset: Int = 0,
                         inputAggBufferOffset: Int = 0)
  extends DoubleArraySum {

  override def prettyName: String = "vec_moments"

  private def dimOf(buf: Array[Double]): Int =
    // length = 1 + d + d(d+1)/2 → d = (sqrt(9 + 8·(len−1)) − 3) / 2
    ((math.sqrt(9.0 + 8.0 * (buf.length - 1)) - 3.0) / 2.0).round.toInt

  override def update(buf: Array[Double], input: InternalRow): Array[Double] = {
    val v = child.eval(input)
    if (v == null) return buf
    val arr = v.asInstanceOf[ArrayData]
    val d = arr.numElements()
    val out =
      if (buf.isEmpty) new Array[Double](1 + d + d * (d + 1) / 2)
      else {
        require(dimOf(buf) == d,
          s"vec_moments: ragged input dimensions (${dimOf(buf)} then $d)")
        buf
      }
    val row = new Array[Double](d)
    var i = 0
    while (i < d) {
      row(i) = elem(arr, i)
      i += 1
    }
    out(0) += 1.0
    i = 0
    var t = 1 + d
    while (i < d) {
      out(1 + i) += row(i)
      var j = i
      while (j < d) {
        out(t) += row(i) * row(j)
        t += 1
        j += 1
      }
      i += 1
    }
    out
  }

  override def merge(a: Array[Double], b: Array[Double]): Array[Double] =
    if (a.isEmpty) b
    else if (b.isEmpty) a
    else {
      require(a.length == b.length,
        s"vec_moments: merging ragged buffers (${a.length} vs ${b.length})")
      var i = 0
      while (i < b.length) { a(i) += b(i); i += 1 }
      a
    }

  override def withNewMutableAggBufferOffset(o: Int): VectorMoments =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): VectorMoments =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): VectorMoments = copy(child = c.head)
}

object VectorMoments {

  /** Column entry point: [n, sums, upper-triangle gram] per group. */
  def vecMoments(c: Column): Column =
    Bridge.column(VectorMoments(Bridge.expression(c)).toAggregateExpression())

  /** Index of gram entry (i, j), i <= j, into the flat result array. */
  def triIndex(dim: Int, i: Int, j: Int): Int = {
    require(i <= j && j < dim, s"bad triangle index ($i, $j) for dim $dim")
    1 + dim + i * dim - i * (i - 1) / 2 + (j - i)
  }
}
