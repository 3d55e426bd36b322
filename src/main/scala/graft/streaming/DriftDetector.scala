package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Per-key CUSUM state: Welford baseline (frozen once armed) + the two
  * cumulative sums. */
case class DriftState(n: Long, mean: Double, m2: Double,
    pos: Double, neg: Double)

/** Emitted drift alarm. */
case class DriftAlarm(ts: java.sql.Timestamp, plant_type: String,
    value: Double, side: String, stat: Double)

/** st8_drift_detector — streaming twin of a4_cusum_drift: per-key
  * two-sided CUSUM (Page 1954) via `flatMapGroupsWithState`. The first
  * `baselineN` readings build the per-key baseline (Welford mean/σ);
  * the baseline then freezes and S⁺/S⁻ accumulate deviations beyond a
  * 0.5σ slack, alarming past 5σ and resetting — so a sustained small
  * shift (the reference producer's concept drift) raises an alarm
  * instead of being silently absorbed into a moving estimate.
  *
  * Scale: O(1) doubles of state per key (5 numbers), hash-partitioned;
  * arbitrarily hot keys stream through.
  */
object DriftDetector {

  val BaselineN = 50L
  val SlackK = 0.5
  val AlarmH = 5.0

  private[streaming] def detectGroup(key: String, rows: Iterator[Reading],
      state: GroupState[DriftState]): Iterator[DriftAlarm] = {
    var st = state.getOption.getOrElse(DriftState(0L, 0.0, 0.0, 0.0, 0.0))
    val out = Vector.newBuilder[DriftAlarm]
    rows.toArray.sortBy(r => (r.ts.getTime, r.power_output)).foreach { r =>
      val v = r.power_output
      if (st.n < BaselineN) {
        // Welford update while building the baseline
        val n1 = st.n + 1
        val d = v - st.mean
        val mean1 = st.mean + d / n1
        st = st.copy(n = n1, mean = mean1, m2 = st.m2 + d * (v - mean1))
      } else {
        val sd = math.sqrt(st.m2 / st.n)
        if (sd > 0) {
          val slack = SlackK * sd
          val h = AlarmH * sd
          var pos = math.max(0.0, st.pos + (v - st.mean - slack))
          var neg = math.min(0.0, st.neg + (v - st.mean + slack))
          if (pos > h) {
            out += DriftAlarm(r.ts, key, v, "up", math.rint(pos / sd * 1e6) / 1e6)
            pos = 0.0
          }
          if (neg < -h) {
            out += DriftAlarm(r.ts, key, v, "down", math.rint(-neg / sd * 1e6) / 1e6)
            neg = 0.0
          }
          st = st.copy(pos = pos, neg = neg)
        }
      }
    }
    state.update(st)
    out.result().iterator
  }

  /** Wire the drift detector over parsed telemetry (streaming or
    * batch). */
  def detect(parsed: Dataset[Reading]): Dataset[DriftAlarm] = {
    import parsed.sparkSession.implicits._
    parsed.groupByKey(_.plant_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        detectGroup)
  }
}
