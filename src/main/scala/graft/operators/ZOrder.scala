package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton-code) multi-dimensional clustering — the lakehouse
  * layout technique behind Delta/Iceberg `ZORDER BY`: interleave the bits
  * of two (quantized) dimensions so that sorting by the single interleaved
  * code keeps BOTH dimensions locally bounded in every file. Parquet
  * min/max stats then skip files for predicates on either dimension —
  * a single-column sort gives perfect skipping on that column and none on
  * the other.
  *
  * Usage at scale: quantize each dimension to `bits` buckets (rank, hash
  * or range buckets), then `repartitionByRange(zorderCode2(...))` +
  * `sortWithinPartitions` on the code before the write — the same
  * write-side shape as `ClusteredWriteSpec`'s 1-D clustering.
  *
  * Pure bit arithmetic on longs — codegen'd, no UDF, engine-portable
  * (shift/mask semantics are two's-complement everywhere).
  */
object ZOrder {

  /** Morton interleave of two quantized dimensions, `bits` bits each
    * (bits <= 31; the code occupies 2*bits bits of a long). Inputs must be
    * non-negative and < 2^bits — quantize first; values are masked to the
    * bit width as a guard. Bit j of `a` lands at position 2j, bit j of `b`
    * at 2j+1. */
  def zorderCode2(a: Column, b: Column, bits: Int): Column = {
    require(bits > 0 && bits <= 31, s"bits must be in [1, 31]: $bits")
    val mask = (1L << bits) - 1
    val am = a.cast("long").bitwiseAND(lit(mask))
    val bm = b.cast("long").bitwiseAND(lit(mask))
    (0 until bits).map { j =>
      shiftright(am, j).bitwiseAND(lit(1L)) * lit(1L << (2 * j)) +
        shiftright(bm, j).bitwiseAND(lit(1L)) * lit(1L << (2 * j + 1))
    }.reduce(_ + _)
  }

}
