package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.{EventRow, EwmaRow}

/** st13_stream_ewma — streaming EWMA smoothing + residuals per key
  * (SURVEY.md §2.H): the live twin of a2_ewma, with O(1) state per key
  * (ONE double — the current smoothed level) versus the batch twin's
  * per-partition history scan. This is the reference's "smooth the
  * feed, score the residual" loop in its streaming-native form — the
  * residual feeds any downstream cut (fixed, quantile, or st8's CUSUM,
  * which shares this exact state discipline).
  *
  * The recurrence is ARITHMETIC-IDENTICAL to a2's batch scan (init at
  * the key's first value; resid against the PRE-update level; then
  * ew ← α·x + (1−α)·ew; `rint` 1e-6 rounding) so the replayed-stream
  * twin spec can assert row-for-row equality, not approximation.
  *
  * Ordering: rows within a micro-batch sort by (secs, event_id) per
  * key before the scan (st8/st9's contract); cross-batch order is the
  * source's responsibility.
  *
  * Scale: one double per key, hash-partitioned; the only shuffle is
  * the groupByKey exchange.
  */
object StreamEwma {

  def smooth(rows: Dataset[EventRow], alpha: Double = 0.3): Dataset[EwmaRow] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.user_id)
      .flatMapGroupsWithState[Option[Double], EwmaRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, it: Iterator[EventRow], state: GroupState[Option[Double]]) =>
          val batch = it.toArray.sortBy(r => (r.secs, r.event_id))
          var ew = state.getOption.flatten.getOrElse(Double.NaN)
          val out = batch.map { r =>
            if (ew.isNaN) ew = r.value
            val resid = r.value - ew
            ew = alpha * r.value + (1 - alpha) * ew
            EwmaRow(r.event_id, key, r.value,
              math.rint(ew * 1e6) / 1e6, math.rint(resid * 1e6) / 1e6)
          }
          state.update(if (ew.isNaN) None else Some(ew))
          out.iterator
      }
  }
}
