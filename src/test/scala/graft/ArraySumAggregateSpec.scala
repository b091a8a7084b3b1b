package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{AgmsSketch, CmsSketch, SimhashVotes, VectorMoments, VectorSum}

/** The five array-sum aggregates' partial buffers, pinned byte for byte
  * without a session: each aggregate runs `update` over fixed rows, and
  *  - the serialized buffer equals a hex pin (a buffer is what one
  *    partition ships to another, so its bytes are the wire format);
  *  - `deserialize(serialize(b))` is `b`;
  *  - merging the buffers of the two halves of the rows equals the buffer
  *    of all of them (the inputs are small dyadic values, so every double
  *    sum is exact in either order).
  */
class ArraySumAggregateSpec extends AnyFunSuite {

  private def hex(bytes: Array[Byte]): String =
    bytes.map(b => f"${b & 0xff}%02x").mkString

  private def check[T](agg: TypedImperativeAggregate[T], rows: Seq[InternalRow],
                       pin: String): Unit = {
    def fold(rs: Seq[InternalRow]): T =
      rs.foldLeft(agg.createAggregationBuffer())(agg.update)
    val whole = fold(rows)
    val bytes = agg.serialize(whole)
    assert(hex(bytes) === pin, s"${agg.prettyName} buffer bytes changed")
    assert(java.util.Objects.deepEquals(agg.deserialize(bytes), whole),
      s"${agg.prettyName} serde round trip")
    val (a, b) = rows.splitAt(rows.length / 2)
    assert(hex(agg.serialize(agg.merge(fold(a), fold(b)))) === pin,
      s"${agg.prettyName} merged halves differ from the whole")
  }

  private def ref(i: Int, t: DataType) = BoundReference(i, t, nullable = true)

  private def vec(xs: Any*): GenericArrayData = new GenericArrayData(xs.toArray)

  private val strings = Seq("a", "b", "a", "c", null, "d", "a", "e")
    .map(s => InternalRow(if (s == null) null else UTF8String.fromString(s)))

  test("cms_sketch buffer: depth 2 x width 8") {
    check(CmsSketch(ref(0, StringType), depth = 2, width = 8), strings,
      "0000000000000001000000000000000000000000000000000000000000000003" +
      "0000000000000000000000000000000100000000000000010000000000000001" +
      "0000000000000000000000000000000100000000000000000000000000000003" +
      "0000000000000000000000000000000000000000000000020000000000000001")
  }

  test("agms_sketch buffer: 8 counters") {
    val keys = Seq[Any](1L, 2L, 3L, 1L, null, 1000000007L, -5L, 1L)
      .map(k => InternalRow(k))
    check(AgmsSketch(ref(0, LongType), counters = 8), keys,
      "00000000000000010000000000000003ffffffffffffffff0000000000000003" +
      "0000000000000001000000000000000100000000000000010000000000000001")
  }

  test("simhash_votes buffer: 64 votes and the row count") {
    val hashes = Seq[(Any, Any)]((0x0f0f0f0fL, 0x12345678L), (0xffffffffL, 0L),
      (null, null), (7L, 0x80000000L), (0L, 0xdeadbeefL), (0x55555555L, 3L))
      .map { case (lo, hi) => InternalRow(lo, hi) }
    check(SimhashVotes(ref(0, LongType), ref(1, LongType)), hashes,
      "000000000000000200000000000000000000000000000002fffffffffffffffe" +
      "fffffffffffffffefffffffffffffffcfffffffffffffffefffffffffffffffc" +
      "0000000000000000fffffffffffffffe0000000000000000fffffffffffffffe" +
      "fffffffffffffffefffffffffffffffcfffffffffffffffefffffffffffffffc" +
      "0000000000000000fffffffffffffffe0000000000000000fffffffffffffffe" +
      "fffffffffffffffefffffffffffffffcfffffffffffffffefffffffffffffffc" +
      "0000000000000000fffffffffffffffe0000000000000000fffffffffffffffe" +
      "fffffffffffffffefffffffffffffffcfffffffffffffffefffffffffffffffc" +
      "fffffffffffffffefffffffffffffffefffffffffffffffcfffffffffffffffe" +
      "fffffffffffffffcfffffffffffffffefffffffffffffffefffffffffffffffc" +
      "fffffffffffffffafffffffffffffffefffffffffffffffefffffffffffffffc" +
      "fffffffffffffffefffffffffffffffcfffffffffffffffcfffffffffffffffc" +
      "fffffffffffffffcfffffffffffffffafffffffffffffffefffffffffffffffc" +
      "fffffffffffffffcfffffffffffffffefffffffffffffffafffffffffffffffc" +
      "fffffffffffffffafffffffffffffffefffffffffffffffcfffffffffffffffc" +
      "fffffffffffffffefffffffffffffffafffffffffffffffcfffffffffffffffe" +
      "0000000000000006")
  }

  // widths 3, null, 3 with a null element, then a shorter and a longer
  // vector: the halves' buffers differ in length, so merge zero-pads
  private def sumRows(f: Double => Any) = Seq(
    InternalRow(vec(f(1), f(2), f(3))), InternalRow(null),
    InternalRow(vec(f(0.5), null, f(4))), InternalRow(vec(f(2))),
    InternalRow(vec(f(1), f(1), f(1), f(-0.25))))

  test("vec_sum buffer over array<float>") {
    check(VectorSum(ref(0, ArrayType(FloatType))), sumRows(_.toFloat),
      "401200000000000040080000000000004020000000000000bfd0000000000000")
  }

  test("vec_sum buffer over array<double>") {
    check(VectorSum(ref(0, ArrayType(DoubleType))), sumRows(identity),
      "401200000000000040080000000000004020000000000000bfd0000000000000")
  }

  // one dimension throughout (3), a null row and a null element
  private def momentRows(f: Double => Any) = Seq(
    InternalRow(vec(f(1), f(2), f(3))), InternalRow(null),
    InternalRow(vec(f(0.5), null, f(-1))), InternalRow(vec(f(2), f(2), f(2))),
    InternalRow(vec(f(-1.5), f(0.25), f(4))))

  test("vec_moments buffer over array<float>") {
    check(VectorMoments(ref(0, ArrayType(FloatType))), momentRows(_.toFloat),
      "4010000000000000400000000000000040110000000000004020000000000000" +
      "401e00000000000040168000000000003fe00000000000004020200000000000" +
      "4026000000000000403e000000000000")
  }

  test("vec_moments buffer over array<double>") {
    check(VectorMoments(ref(0, ArrayType(DoubleType))), momentRows(identity),
      "4010000000000000400000000000000040110000000000004020000000000000" +
      "401e00000000000040168000000000003fe00000000000004020200000000000" +
      "4026000000000000403e000000000000")
  }
}
