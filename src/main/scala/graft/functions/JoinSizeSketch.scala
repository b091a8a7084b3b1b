package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.LongType

/** AGMS ("tug-of-war") sketch for JOIN-SIZE estimation (Alon, Gilbert,
  * Matias, Szegedy — the classic streaming estimator): counter i sums a
  * ±1 hash of the key over the rows, so for two sketches built with the
  * SAME hash family, E[X_i^A · X_i^B] = Σ_k f_A(k)·f_B(k) = |A ⋈_k B|.
  * Median-of-means over the counters bounds the variance.
  *
  * This is planner machinery: estimate a join's output rows from one
  * cheap aggregate per side — decide broadcast vs shuffle vs pre-filter
  * BEFORE paying for the join. Counters are longs, updates are a
  * hash + sign flip per row, merge is element-wise add, so the sketch
  * partial-aggregates map-side like any sum, at any scale.
  *
  * The ±1 family is seeded Murmur3 (Spark-internal, deterministic) — a
  * cross-engine oracle cannot reproduce it, so queries over this sketch
  * verify rows-only; JoinEstimateSpec carries the accuracy bound.
  */
case class AgmsSketch(child: Expression, counters: Int,
                      mutableAggBufferOffset: Int = 0,
                      inputAggBufferOffset: Int = 0)
  extends LongArraySum {

  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"agms_sketch expects bigint keys, got ${t.catalogString}")
  }

  override def prettyName: String = "agms_sketch"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](counters)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v == null) return buf
    val key = v.asInstanceOf[Long]
    var i = 0
    while (i < buf.length) {
      // seeded 64-bit avalanche (splitmix64 finalizer) — deterministic,
      // independent-enough per counter; lowest bit → ±1
      var h = key + 0x9e3779b97f4a7c15L * (i + 1)
      h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
      h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
      h ^= h >>> 31
      buf(i) += ((h & 1L) << 1) - 1L
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): AgmsSketch =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): AgmsSketch =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): AgmsSketch = copy(child = c.head)
}

object JoinSizeSketch {

  /** Column entry point: AGMS counters over a bigint key. Both join
    * sides MUST use the same `counters` so the hash families align. */
  def agmsSketch(key: Column, counters: Int = 256): Column = {
    require(counters >= 32 && counters % 32 == 0,
      s"counters must be a multiple of 32 (median-of-means groups): $counters")
    Bridge.column(AgmsSketch(Bridge.expression(key), counters)
      .toAggregateExpression())
  }

  /** Median-of-means join-size estimate from two sketches (local arrays,
    * driver-side — the sketches themselves are answer-sized). Groups of
    * 32 counters are averaged, the group medians' median is the
    * estimate; negatives clamp to 0 (a join size is never negative). */
  def estimate(a: Seq[Long], b: Seq[Long]): Long = {
    require(a.length == b.length && a.nonEmpty,
      s"sketch lengths differ: ${a.length} vs ${b.length}")
    val products = a.zip(b).map { case (x, y) => x.toDouble * y }
    val means = products.grouped(32).map(g => g.sum / g.size).toSeq
    val sorted = means.sorted
    val m = sorted.length
    val median =
      if (m % 2 == 1) sorted(m / 2)
      else (sorted(m / 2 - 1) + sorted(m / 2)) / 2.0
    math.max(0L, math.round(median))
  }
}
