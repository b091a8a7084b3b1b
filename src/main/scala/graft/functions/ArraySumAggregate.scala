package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** A mergeable summary kept as one numeric array (the shape of
  * "Approximation Algorithms for Large Scale Data Analysis", PODS 2021):
  * each subclass's `update` folds a row into the array, partial buffers
  * merge by element-wise addition, which is associative, so map-side
  * partial aggregation is exact at any partitioning, and `eval` finalizes.
  * A buffer crosses partitions as its elements in order, 8 bytes each,
  * big-endian (`ByteBuffer`'s default order).
  */
abstract class LongArraySum extends TypedImperativeAggregate[Array[Long]] {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.length * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }
}

/** [[LongArraySum]]'s double flavour over one array<float|double>
  * `child`. The buffer starts empty (the input fixes its length), so a
  * group with no non-null input evaluates to null. Merge is the
  * subclass's: mixed input lengths are zero-padded by one, refused by
  * the other. */
abstract class DoubleArraySum extends TypedImperativeAggregate[Array[Double]] {

  def child: Expression

  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float> or array<double>, got ${t.catalogString}")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true

  // lazy: the constructor also runs on UNRESOLVED children (copy() during
  // tree transforms), where dataType would throw.
  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** Element `i` of an input vector as a double; null reads as 0. */
  protected final def elem(arr: ArrayData, i: Int): Double =
    if (arr.isNullAt(i)) 0.0
    else if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)

  override def createAggregationBuffer(): Array[Double] = Array.empty

  override def eval(buf: Array[Double]): Any =
    if (buf.isEmpty) null else new GenericArrayData(buf)

  override def serialize(buf: Array[Double]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.length * 8)
    bb.asDoubleBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val out = new Array[Double](bytes.length / 8)
    ByteBuffer.wrap(bytes).asDoubleBuffer().get(out)
    out
  }
}
