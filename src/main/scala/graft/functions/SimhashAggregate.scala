package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, LongType}

/** 64-bit SimHash bit-vote aggregate: given each token's hash as two
  * 32-bit halves, accumulate the classic +1/−1 vote per bit and emit the
  * packed signature (bit j set iff votes(j) > 0 — identical semantics to
  * the 64-column `sum(when(...))` formulation it replaces).
  *
  * Custom aggregate rationale (SURVEY.md §7.4 escalation (b)): the
  * built-in form needs 64 SEPARATE aggregate expressions — 64 buffer
  * columns and 64 codegen'd shift/branch/sum updates per token row. This
  * keeps ONE mutable long[65] buffer per group (64 votes, then the row
  * count) and votes all 64 bits in a tight JVM loop per row (measured
  * ~2× on the simhash corpus scan, the bench's heaviest non-fixture
  * query). Merge is element-wise add, so partial aggregation stays
  * fully map-side combining.
  */
case class SimhashVotes(lo: Expression, hi: Expression,
                        mutableAggBufferOffset: Int = 0,
                        inputAggBufferOffset: Int = 0)
  extends LongArraySum {

  override def children: Seq[Expression] = Seq(lo, hi)

  override def checkInputDataTypes(): TypeCheckResult =
    (lo.dataType, hi.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"simhash_votes expects (bigint, bigint), got " +
          s"(${a.catalogString}, ${b.catalogString})")
    }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "simhash_votes"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](65)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val l = lo.eval(input)
    val h = hi.eval(input)
    if (l == null || h == null) {
      // an empty doc reaches the aggregate as one null row
      // (explode_outer): vote −1 on every bit, exactly like the
      // sum(when(...)) formulation's otherwise(-1) branch on null
      // hashes, so empty docs keep signature 0
      var j = 0
      while (j < 64) { buf(j) -= 1L; j += 1 }
      buf(64) += 1L
      return buf
    }
    val lv = l.asInstanceOf[Long]
    val hv = h.asInstanceOf[Long]
    var j = 0
    while (j < 32) {
      // branch-free ±1: (bit << 1) - 1
      buf(j) += (((lv >>> j) & 1L) << 1) - 1L
      buf(j + 32) += (((hv >>> j) & 1L) << 1) - 1L
      j += 1
    }
    buf(64) += 1L // row count: distinguishes empty groups from tied votes
    buf
  }

  override def eval(buf: Array[Long]): Any =
    if (buf(64) == 0L) null
    else {
      var sig = 0L
      var j = 0
      while (j < 64) {
        if (buf(j) > 0L) sig |= (1L << j)
        j += 1
      }
      sig
    }

  override def withNewMutableAggBufferOffset(o: Int): SimhashVotes =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SimhashVotes =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): SimhashVotes =
    copy(lo = c(0), hi = c(1))
}

object SimhashAggregate {

  /** Column entry point: packed 64-bit simhash from per-token hash
    * halves. */
  def simhashVotes(lo: Column, hi: Column): Column =
    Bridge.column(SimhashVotes(Bridge.expression(lo), Bridge.expression(hi))
      .toAggregateExpression())
}
