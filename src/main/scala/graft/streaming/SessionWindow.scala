package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** st12_session_window — streaming session windows per key: events
  * closer than `gap` merge into one session; a quiet period longer
  * than the gap closes it (SURVEY.md §2.H). Batch twin: e4_sessionize
  * (lag + cumulative-sum session ids) — the TwinEquivalenceSpec
  * replays the real events table and asserts session-for-session
  * equality (same membership ⇒ same n/min/max/sum per session).
  *
  * Spark-native form: the built-in `session_window` grouping — the
  * state store holds one open session per (key, session) merged and
  * extended across micro-batches, and the watermark both closes
  * sessions (emitting them in Append mode, the "session is final"
  * contract a downstream sink wants) and evicts their state. Late
  * rows beyond the watermark never re-open a closed session —
  * exactly the reference's closed-window semantics (app3_ML.py's
  * foreachBatch never revisits an emitted window).
  *
  * Scale: state is O(open sessions), independent of event volume;
  * keys hash-partition across executors. The batch twin's
  * lag+cumsum scan is the right shape for backfill; this is the
  * right shape for the live feed — same answer, spec-proven.
  */
object SessionWindow {

  /** Watermarked session aggregation over any event-time column, key
    * set, and aggregate list. Returns `session_window` + keys + aggs;
    * callers project (window.start is the session's first event time;
    * window.end is last event time + gap). */
  def sessions(parsed: DataFrame, tsCol: String, keyCols: Seq[String],
      aggs: Seq[Column], gap: String, watermark: String): DataFrame =
    parsed
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap) +: keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** The e4-twin projection: per-user sessions at a 30-minute gap with
    * the batch twin's exact-decimal sum discipline.
    *
    * Boundary note: `session_window`'s gap is EXCLUSIVE (an event at
    * exactly session_end starts a new session) while e4's `diff >
    * 1800` test is inclusive — so over floor-second event times the
    * exact twin of e4's 1800 is a gap of 1801 s (diff < 1801 ⟺
    * diff ≤ 1800). The spec replays with that pairing. */
  def userSessions(parsed: DataFrame, gap: String = "30 minutes",
      watermark: String = "60 days"): DataFrame =
    sessions(parsed, "ts", Seq("user_id"), Seq(
        count(lit(1)).as("n_events"),
        min(col("ts").cast("long")).as("start_s"),
        max(col("ts").cast("long")).as("end_s"),
        graft.functions.ExactStats.dsum(col("value")).as("sum_value")),
      gap = gap, watermark = watermark)
      .select(col("user_id"), col("n_events"), col("start_s"),
        col("end_s"), col("sum_value"))
}
