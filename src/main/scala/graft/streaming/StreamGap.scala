package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Emitted feed-gap alert: key went quiet from `gap_start` (the minute
  * AFTER its last event) for `gap_minutes` minutes, detected when the
  * feed resumed at `resumed_m`. */
case class GapAlert(event_type: String, gap_start: Long,
    gap_minutes: Long, resumed_m: Long)

/** Per-key gap state: the last minute an event was seen. */
case class GapState(lastMin: Long)

/** st21_stream_gap — streaming twin of e21's completeness audit: a
  * LIVE feed-gap monitor. e21 measures coverage after the fact; this
  * alerts the moment a stalled feed RESUMES, reporting exactly which
  * minutes went missing (the e13/e15 repair range) — one long of
  * state per key. A feed that stalls and never resumes raises no
  * alert: no arriving event can witness it.
  *
  * Scale: state is ONE long per key; alerts are emitted only on
  * resumption, so output tracks actual gaps, not traffic. Late events
  * older than the last-seen minute are ignored (they cannot re-open a
  * gap); bound disorder upstream with a watermark.
  */
object StreamGap {

  val MaxGapMinutes = 2L

  private def minuteOf(ts: java.sql.Timestamp): Long = ts.getTime / 60000L * 60L

  private[streaming] def detectGroup(key: String, rows: Iterator[TypedTick],
      state: GroupState[GapState]): Iterator[GapAlert] = {
    var last = state.getOption.map(_.lastMin).getOrElse(Long.MinValue)
    val out = Vector.newBuilder[GapAlert]
    rows.toArray.sortBy(_.ts.getTime).foreach { r =>
      val m = minuteOf(r.ts)
      if (last != Long.MinValue && m > last) {
        val gapMin = (m - last) / 60L - 1L
        if (gapMin >= MaxGapMinutes)
          out += GapAlert(key, last + 60L, gapMin, m)
      }
      if (m > last) last = m
    }
    state.update(GapState(last))
    out.result().iterator
  }

  /** Wire gap detection over a parsed (event_type, ts) stream. */
  def detect(parsed: Dataset[TypedTick]): Dataset[GapAlert] = {
    import parsed.sparkSession.implicits._
    parsed.groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        detectGroup)
  }
}
