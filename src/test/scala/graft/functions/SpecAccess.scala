package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String

/** The row-level decoders and scorer that `functions` keeps to itself,
  * forwarded for the specs in package `graft` that pin them directly. */
object SpecAccess {
  def dimsRow(b: Array[Byte]): InternalRow = MediaDecode.dimsRow(b)
  def infoRow(b: Array[Byte]): InternalRow = AudioDecode.infoRow(b)
  def jaroWinkler(a: UTF8String, b: UTF8String): Double =
    StringSimilarity.jaroWinkler(a, b)
}
