package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.{EventRow, HoltRow}

/** st18_stream_holt — streaming Holt level+trend smoothing per key
  * (SURVEY.md §2.H): the live twin of a6_holt, with O(1) state per key
  * (TWO doubles — level and trend) next to st13's one. Where st13's
  * EWMA residuals stay biased for the whole duration of a ramp, the
  * trend term absorbs sustained drift, so the residual feed downstream
  * cuts consume stays centered on ramps and spikes only on LEVEL
  * BREAKS — the streaming detector the reference's drifting `demand`
  * series actually wants.
  *
  * The recurrence is ARITHMETIC-IDENTICAL to a6's batch scan (seed
  * l=v, b=0 at the key's first reading; forecast-then-update; `rint`
  * 1e-6 rounding), so the replayed-stream twin spec asserts
  * row-for-row equality, not approximation.
  *
  * Ordering: rows within a micro-batch sort by (secs, event_id) per
  * key; cross-batch order is the source's responsibility (the st8/st9
  * contract).
  */
object StreamHolt {

  def smooth(rows: Dataset[EventRow], alpha: Double = 0.3,
      beta: Double = 0.1): Dataset[HoltRow] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.user_id)
      .flatMapGroupsWithState[Option[(Double, Double)], HoltRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, it: Iterator[EventRow],
            state: GroupState[Option[(Double, Double)]]) =>
          val batch = it.toArray.sortBy(r => (r.secs, r.event_id))
          var st = state.getOption.flatten
          val out = batch.map { r =>
            val (l0, b0) = st.getOrElse((r.value, 0.0))
            val f = l0 + b0
            val resid = r.value - f
            val lNew = alpha * r.value + (1 - alpha) * (l0 + b0)
            val bNew = beta * (lNew - l0) + (1 - beta) * b0
            st = Some((lNew, bNew))
            HoltRow(r.event_id, key, r.value,
              math.rint(lNew * 1e6) / 1e6, math.rint(bNew * 1e6) / 1e6,
              math.rint(resid * 1e6) / 1e6)
          }
          state.update(st)
          out.iterator
      }
  }
}
