package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Count-Min sketch (Cormode & Muthukrishnan): point-frequency estimates
  * for ANY key from a fixed-size mergeable summary — the complement of
  * the Misra-Gries sketch (which keeps only the top-k): CMS answers
  * "how often did THIS key occur" for keys chosen after the scan.
  *
  * depth×width long counters; each of the `depth` rows hashes the key
  * independently and increments one cell; the estimate is the MINIMUM
  * over the rows — always ≥ the true count (one-sided error), and
  * ≤ true + εN with probability 1−δ for width = ⌈e/ε⌉, depth = ⌈ln 1/δ⌉.
  * Updates are depth increments per row, merge is element-wise add, so
  * the sketch partial-aggregates map-side at any scale.
  */
object CountMin {

  /** FNV-1a 64 over the UTF-8 bytes, finalized splitmix64-style, seeded
    * per depth row. Static + deterministic so generated code, the
    * aggregate, and the probe expression all share it. */
  def hash(key: UTF8String, seed: Int): Long = {
    val bytes = key.getBytes
    var h = 0xcbf29ce484222325L ^ (0x9e3779b97f4a7c15L * (seed + 1))
    var i = 0
    while (i < bytes.length) {
      h = (h ^ (bytes(i) & 0xffL)) * 0x100000001b3L
      i += 1
    }
    h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
    h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
    h ^ (h >>> 31)
  }

  /** Min-over-rows estimate from a flattened depth×width sketch.
    * Probe-side depth/width are caller-supplied (easy to mismatch via the
    * SQL surface against a sketch built with different parameters), so a
    * size check guards against reading wrong cells / AIOOBE: a mismatched
    * sketch estimates as -1, a value the true non-negative counter
    * estimate can never take. */
  def estimate(sketch: ArrayData, key: UTF8String, depth: Int,
               width: Int): Long = {
    if (depth <= 0 || width <= 0 ||
      sketch.numElements() != depth * width) return -1L
    var best = Long.MaxValue
    var d = 0
    while (d < depth) {
      val cell = (((hash(key, d) % width) + width) % width).toInt
      val v = sketch.getLong(d * width + cell)
      if (v < best) best = v
      d += 1
    }
    best
  }
}

/** `cms_sketch(key)` aggregate: flattened depth×width counter array. */
case class CmsSketch(child: Expression, depth: Int, width: Int,
                     mutableAggBufferOffset: Int = 0,
                     inputAggBufferOffset: Int = 0)
  extends LongArraySum {

  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"cms_sketch expects string keys, got ${t.catalogString}")
  }

  override def prettyName: String = "cms_sketch"

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](depth * width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v == null) return buf
    val key = v.asInstanceOf[UTF8String]
    var d = 0
    while (d < depth) {
      val cell = (((CountMin.hash(key, d) % width) + width) % width).toInt
      buf(d * width + cell) += 1L
      d += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): CmsSketch =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CmsSketch =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): CmsSketch = copy(child = c.head)
}

/** `cms_estimate(sketch, key)` scalar: the min-over-rows point estimate —
  * a codegen'd static call, no UDF (the zero-UDF rule holds). */
case class CmsEstimateExpr(left: Expression, right: Expression,
                           depth: Int, width: Int) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), StringType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"cms_estimate expects (array<bigint>, string), got " +
          s"(${a.catalogString}, ${b.catalogString})")
    }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "cms_estimate"

  override def nullSafeEval(sketch: Any, key: Any): Any = {
    val est = CountMin.estimate(sketch.asInstanceOf[ArrayData],
      key.asInstanceOf[UTF8String], depth, width)
    if (est < 0L) null else est // -1 = sketch/param size mismatch → NULL
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (sketch, key) => {
      s"""
         |${ev.value} = graft.functions.CountMin.estimate(
         |  $sketch, $key, $depth, $width);
         |${ev.isNull} = ${ev.value} < 0L;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): CmsEstimateExpr = copy(left = l, right = r)
}

object CountMinFunctions {

  /** Aggregate entry point. Defaults: ε ≈ e/2048 ≈ 0.13%, δ ≈ e⁻⁵. */
  def cmsSketch(key: Column, depth: Int = 5, width: Int = 2048): Column = {
    require(depth > 0 && width > 0, s"need positive dims: $depth x $width")
    Bridge.column(CmsSketch(Bridge.expression(key), depth, width)
      .toAggregateExpression())
  }

  /** Point-estimate entry point — depth/width MUST match the sketch's. */
  def cmsEstimate(sketch: Column, key: Column, depth: Int = 5,
                  width: Int = 2048): Column =
    Bridge.column(CmsEstimateExpr(Bridge.expression(sketch),
      Bridge.expression(key), depth, width))
}
