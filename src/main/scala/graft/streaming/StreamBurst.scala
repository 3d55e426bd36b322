package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** A (type, event-time) tick — the only columns burst detection needs. */
case class TypedTick(event_type: String, ts: java.sql.Timestamp)

/** Emitted burst alert: minute m's volume n at z standard deviations
  * above the key's frozen per-minute baseline. */
case class BurstAlert(event_type: String, m: Long, n: Long, z: Double)

/** Per-key burst state: the open minute's accumulator + a Welford
  * baseline over COMPLETED minutes, frozen once warm. */
case class BurstState(curMin: Long, curN: Long,
    cnt: Long, mean: Double, m2: Double)

/** st20_stream_burst — streaming twin of e20_rate_burst: per-type
  * minute-volume burst alerts via `flatMapGroupsWithState`. Each key
  * counts its open minute in O(1) state; when an arriving event rolls
  * the minute over, the completed minute either feeds the Welford
  * baseline (first `warmMinutes` observed minutes) or — baseline
  * frozen, the st8 discipline, so a sustained flood alarms instead of
  * inflating its own threshold — is scored, alerting past 3σ. The
  * batch twin scores against the full-history distribution; the
  * stream scores against the frozen warm-up, which is the causal
  * version of the same statistic (a live detector cannot know the
  * day's full distribution). Observed minutes only, like e20: an
  * all-quiet minute has no row on either side.
  *
  * Scale: state is SIX numbers per key — no ring, no window buffer —
  * hash-partitioned by key; a minute is emitted when its successor's
  * first event arrives (one-minute emission lag, the price of
  * completing a tumbling count without a watermark-managed window
  * store). Late events for already-closed minutes are dropped; bound
  * staleness upstream with a watermark.
  */
object StreamBurst {

  val WarmMinutes = 30L
  val AlertZ = 3.0

  private def minuteOf(ts: java.sql.Timestamp): Long = ts.getTime / 60000L * 60L

  private[streaming] def detectGroup(key: String, rows: Iterator[TypedTick],
      state: GroupState[BurstState]): Iterator[BurstAlert] = {
    var st = state.getOption.getOrElse(
      BurstState(Long.MinValue, 0L, 0L, 0.0, 0.0))
    val out = Vector.newBuilder[BurstAlert]
    def finalizeMinute(m: Long, n: Long): Unit =
      if (st.cnt < WarmMinutes) {
        val c1 = st.cnt + 1
        val d = n - st.mean
        val mean1 = st.mean + d / c1
        st = st.copy(cnt = c1, mean = mean1, m2 = st.m2 + d * (n - mean1))
      } else {
        val sd = math.sqrt(st.m2 / (st.cnt - 1)) // sample sd, e20's form
        if (sd > 0) {
          val z = (n - st.mean) / sd
          if (z > AlertZ)
            out += BurstAlert(key, m, n, math.rint(z * 1e6) / 1e6)
        }
      }
    rows.toArray.sortBy(_.ts.getTime).foreach { r =>
      val m = minuteOf(r.ts)
      if (st.curMin == Long.MinValue) st = st.copy(curMin = m, curN = 1L)
      else if (m == st.curMin) st = st.copy(curN = st.curN + 1L)
      else if (m > st.curMin) {
        finalizeMinute(st.curMin, st.curN)
        st = st.copy(curMin = m, curN = 1L)
      } // m < curMin: late beyond the open minute — dropped
    }
    state.update(st)
    out.result().iterator
  }

  /** Wire burst detection over a parsed (event_type, ts) stream (or a
    * batch frame — same code path, the twin-spec trick). */
  def detect(parsed: Dataset[TypedTick]): Dataset[BurstAlert] = {
    import parsed.sparkSession.implicits._
    parsed.groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        detectGroup)
  }
}
