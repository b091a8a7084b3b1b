package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.JoinSizeSketch

/** Sketch-driven join planning: the AGMS join-size estimate
  * ([[graft.functions.JoinSizeSketch]]) consulted BEFORE the join runs,
  * choosing the physical strategy the way a cost-based planner would —
  * but from a 256-counter sketch per side instead of full statistics.
  *
  * Decision rule (the two failure modes it guards against):
  *  - a side small enough to broadcast AND an output that does not
  *    explode → broadcast the smaller side (no fact-side shuffle);
  *  - everything else → explicit SHUFFLE_MERGE. The explosion guard is
  *    where the JOIN-SIZE estimate (not mere row counts) is
  *    load-bearing: a small dim with hot duplicated keys can pass any
  *    rows/bytes threshold yet fan the output out by orders of
  *    magnitude — sort-merge streams and spills that case, a broadcast
  *    hash probe amplifies it in memory.
  *
  * Cost posture: [[estimatedMultiJoin]] runs one cheap aggregate per
  * side (a map-side-combining sketch + count, answer-sized result to the
  * driver — planner statistics, same justification as the IVF quantizer
  * sample). At warehouse scale the sketches would not be computed on
  * demand at all: they are element-wise mergeable, so each table's
  * sketch is maintained at write time and joins plan from stored stats
  * ([[graft.sources.VersionedStats.adaptiveVersionedJoin]]).
  */
object EstimatedJoin {

  final case class JoinEstimate(rowsLeft: Long, rowsRight: Long,
                                estJoinRows: Long, strategy: String,
                                salts: Int = 0)

  /** The strategy rule, given an output estimate (the multi-join planner
    * scales raw sketch estimates by upstream selectivity before
    * deciding). Three-way: broadcast when a side fits and the output
    * does not explode; otherwise bloom-pruned merge when the estimate
    * says the join is SELECTIVE (output ≤ `bloomSelectivity` × the
    * bigger side — few big rows can match, so a bloom of the smaller
    * side's keys drops the rest before the shuffle); plain sort-merge
    * for everything else. */
  def decide(estJoinRows: Long, rowsLeft: Long, rowsRight: Long,
             broadcastMaxRows: Long, fanoutCap: Double,
             bloomSelectivity: Double = 0.1): String = {
    val small = math.min(rowsLeft, rowsRight)
    val big = math.max(rowsLeft, rowsRight)
    if (small <= broadcastMaxRows &&
      estJoinRows <= fanoutCap * math.max(1L, big)) {
      if (rowsRight <= rowsLeft) "broadcast_right" else "broadcast_left"
    } else if (estJoinRows <= bloomSelectivity * big) "bloom_merge"
    else "shuffle_merge"
  }

  /** One dimension join of a star query: `fact.factKey = dim.dimKey`.
    * `name` labels the step in the returned plan trace. */
  final case class DimSpec(name: String, dim: DataFrame,
                           factKey: String, dimKey: String)

  /** One planned step of [[estimatedMultiJoin]]: which dim was joined
    * at this position and the (scaled) estimate that placed it there. */
  final case class MultiJoinStep(name: String, estimate: JoinEstimate)

  /** Stats-driven STAR-JOIN ordering: joins `dims` onto `fact` most
    * selective first, each step's physical strategy chosen by
    * [[decide]]'s three-way rule extended with [[AdaptiveJoin]]'s
    * skew arm (a hot fact key above `hotShareThreshold` share salts the
    * step instead of bloom/merge — measured by the Misra-Gries summary
    * the planning pass already carries). Join ordering is the textbook
    * cost-based-optimizer move — a selective dim joined first shrinks
    * every later join's probe side — done here from AGMS sketches:
    *
    *  - ONE aggregate over the fact computes a sketch per distinct fact
    *    key plus the row count (all map-side partial; the fact is
    *    scanned once for planning regardless of dim count);
    *  - one answer-sized aggregate per dim;
    *  - greedy placement: at each position take the dim whose SCALED
    *    output estimate is smallest, where scaling multiplies the raw
    *    (full-fact) sketch estimate by the fraction of fact rows the
    *    joins placed so far are estimated to keep — the standard
    *    attribute-independence assumption; correlated keys degrade the
    *    ordering, never the result (every strategy is semantics-
    *    preserving, inner-join commutativity is what reordering uses).
    *    One stats risk is inherited from every CBO: an UNDERestimated
    *    intermediate can get broadcast (`broadcast_left`); the fanout
    *    cap bounds the sketch's own error but not correlation error —
    *    size `broadcastMaxRows` with that in mind.
    *
    * Inner joins only: reordering outer joins changes results. Dim
    * column names must be distinct from fact columns. Returns the joined
    * frame and the ordered step trace for plan audits. */
  def estimatedMultiJoin(fact: DataFrame, dims: Seq[DimSpec],
                         broadcastMaxRows: Long = 10000000L,
                         fanoutCap: Double = 4.0,
                         counters: Int = 256,
                         hotShareThreshold: Double = 0.10,
                         hhCapacity: Int = 64,
                         shufflePartitions: Int = 0,
                         maxSalts: Int = 64): (DataFrame, Seq[MultiJoinStep]) = {
    require(dims.nonEmpty, "need at least one dim")
    require(dims.map(_.name).distinct.size == dims.size,
      "dim names must be unique")
    val parts =
      if (shufflePartitions > 0) shufflePartitions
      else fact.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val factKeys = dims.map(_.factKey).distinct
    // the SAME single planning pass also carries a Misra-Gries summary
    // per fact key ([[AdaptiveJoin]]'s skew signal — still one fact scan
    // regardless of dim count)
    val aggCols = count(lit(1)).as("__n") +:
      (factKeys.map(k =>
        JoinSizeSketch.agmsSketch(col(k), counters).as(s"__s_$k")) ++
        factKeys.map(k =>
          graft.functions.SketchAggregates.freqItems(
            col(k).cast("string"), hhCapacity).as(s"__h_$k")))
    val fr: Row = fact.agg(aggCols.head, aggCols.tail: _*).head()
    val factRows = fr.getLong(0)
    val factSketch = factKeys.zipWithIndex.map { case (k, i) =>
      k -> fr.getSeq[Long](i + 1)
    }.toMap
    // hot share per key on the ORIGINAL fact; later steps reuse it under
    // the same attribute-independence assumption as the size scaling (a
    // selective earlier join is assumed to thin hot and cold keys alike,
    // leaving the SHARE unchanged)
    val factHotShare = factKeys.zipWithIndex.map { case (k, i) =>
      val hh = fr.getSeq[Row](1 + factKeys.length + i)
      k -> (if (factRows > 0 && hh.nonEmpty)
        hh.head.getLong(1).toDouble / factRows else 0.0)
    }.toMap
    val dimStats = dims.map { d =>
      val dr: Row = d.dim.agg(
        JoinSizeSketch.agmsSketch(col(d.dimKey), counters).as("s"),
        count(lit(1)).as("n")).head()
      (d, dr.getSeq[Long](0), dr.getLong(1))
    }
    var current = fact
    var curRows = factRows
    var remaining = dimStats
    val steps = Seq.newBuilder[MultiJoinStep]
    while (remaining.nonEmpty) {
      val scored = remaining.map { case (d, sk, nd) =>
        val raw = JoinSizeSketch.estimate(factSketch(d.factKey), sk)
        val scaled = if (factRows == 0L) 0L
        else math.round(raw.toDouble * curRows / factRows)
        (d, sk, nd, scaled)
      }
      val (d, _, nd, scaled) =
        scored.minBy { case (dd, _, _, s) => (s, dd.name) } // det. tiebreak
      // AdaptiveJoin's priority order, preserving this planner's
      // either-side broadcast: broadcast beats salting (no shuffle at
      // all), a hot fact key beats bloom (a straggler cannot be pruned
      // away, only split)
      val base = decide(scaled, curRows, nd, broadcastMaxRows, fanoutCap)
      val hotShare = factHotShare(d.factKey)
      val (strategy, salts) =
        if (base.startsWith("broadcast") || hotShare < hotShareThreshold)
          (base, 0)
        else ("salted", math.min(maxSalts,
          math.max(2, math.ceil(hotShare * parts).toInt)))
      val e = JoinEstimate(curRows, nd, scaled, strategy, salts)
      current = applyStrategy(current, d.dim, d.factKey, d.dimKey, e)
      steps += MultiJoinStep(d.name, e)
      curRows = scaled
      remaining = remaining.filterNot(_._1.name == d.name)
    }
    (current, steps.result())
  }

  /** Materialize a [[JoinEstimate]]'s decision as the physical plan of an
    * inner join. */
  def applyStrategy(left: DataFrame, right: DataFrame,
                    leftKey: String, rightKey: String,
                    e: JoinEstimate): DataFrame = {
    val cond = left(leftKey) === right(rightKey)
    e.strategy match {
      case "broadcast_right" => left.join(broadcast(right), cond)
      case "broadcast_left" => broadcast(left).join(right, cond)
      // the skew arm (chosen by estimatedMultiJoin's heavy-hitter pass):
      // LEFT is the measured hot side
      case "salted" =>
        Skew.saltedJoinCond(left, leftKey, right, rightKey, e.salts)
      // bloom pruning drops non-matching rows of the BIG side before
      // its shuffle — sound only for inner joins (an outer join must
      // keep them)
      case "bloom_merge" =>
        val bloomed =
          if (e.rowsRight <= e.rowsLeft)
            BloomJoin.prunedInnerJoin(left, leftKey, right, rightKey,
              expectedItems = math.max(1L, e.rowsRight))
          else
            BloomJoin.prunedInnerJoin(right, rightKey, left, leftKey,
              expectedItems = math.max(1L, e.rowsLeft))
        // restore left-then-right column order regardless of which side
        // was pruned (column names are distinct by this API's contract:
        // the condition references each side's own key name)
        bloomed.select((left.columns ++ right.columns).map(col).toSeq: _*)
      case _ => left.join(right.hint("SHUFFLE_MERGE"), cond)
    }
  }
}
