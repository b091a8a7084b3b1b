package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming per-entity EWMA — the stateful twin of
  * [[graft.operators.Ewma]]: the "current smoothed level" per user/device/
  * symbol maintained continuously, O(1) state per key (one long + one
  * count), every event emitted with the level after folding it.
  *
  * The recurrence is BIT-IDENTICAL to the batch operator's: quantize once
  * to integer micros with Spark SQL `round`'s own arithmetic
  * (`BigDecimal.valueOf` → HALF_UP — [[quantize]]), then
  * s' = floor((s·(m−1) + x̃)/m) in exact integer space. A stream whose
  * batches arrive in event-time order therefore lands on exactly the
  * batch operator's final value per key (spec-pinned).
  *
  * Semantics contract (the honest tradeoff of a keyed stateful fold):
  * WITHIN a micro-batch rows fold in (ts, event_id) order; ACROSS
  * batches the fold is as-has-arrived — a late event folds when it
  * arrives (append mode never retracts an emitted level). The batch
  * operator gives the exact retrospective answer; this gives the
  * flowing one.
  */
object StreamingEwma {

  final case class EwmaInput(user_id: Long, ts: Timestamp, event_id: Long,
                             value: Double)

  /** Per-key state: the integer-micro level and the fold count. */
  final case class EwmaState(s: Long, n: Long)

  final case class EwmaPoint(user_id: Long, ts: Timestamp, event_id: Long,
                             value: Double, n_events: Long, ewma: Double)

  /** Spark SQL `round(x·10⁶)`'s exact arithmetic (Round goes through
    * `BigDecimal.valueOf`, i.e. the double's SHORTEST decimal repr,
    * HALF_UP) — using the same path keeps the streaming twin bit-equal
    * to the batch plan's quantization. */
  def quantize(value: Double): Long =
    java.math.BigDecimal.valueOf(value * 1000000.0)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()

  /** Fold the stream; emits one [[EwmaPoint]] per input event with the
    * level AFTER that event. `alpha` must be a negative power of two
    * (the batch operator's exact-scaling restriction). */
  def smoothed(input: Dataset[EwmaInput],
               alpha: Double = 0.5): Dataset[EwmaPoint] = {
    val invAlpha = 1.0 / alpha
    require(alpha > 0 && alpha <= 0.5 &&
      invAlpha == math.rint(invAlpha) &&
      java.lang.Long.bitCount(invAlpha.toLong) == 1,
      s"alpha must be a negative power of two for exact scaling: $alpha")
    // Same bound as the batch twin (Ewma.perEntity): m ≤ 2¹⁶ keeps the
    // long multiply s·(m−1) overflow-free and the batch twin's double
    // floor-division exact — past it the two folds diverge silently.
    require(alpha >= 1.0 / 65536,
      s"alpha below 2^-16 overflows the exact integer fold: $alpha")
    val m = invAlpha.toLong
    val spark = input.sparkSession
    import spark.implicits._
    input
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[EwmaState, EwmaPoint](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, it: Iterator[EwmaInput], state: GroupState[EwmaState]) =>
          var st = state.getOption.getOrElse(EwmaState(0L, 0L))
          val out = Seq.newBuilder[EwmaPoint]
          it.toSeq.sortBy(r => (r.ts.getTime, r.event_id)).foreach { r =>
            val xm = quantize(r.value)
            val s1 =
              if (st.n == 0L) xm
              else Math.floorDiv(st.s * (m - 1L) + xm, m)
            st = EwmaState(s1, st.n + 1L)
            out += EwmaPoint(key, r.ts, r.event_id, r.value, st.n,
              s1 / 1000000.0)
          }
          state.update(st)
          out.result().iterator
      }
  }
}
