package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.EventOps.{micro6, microsToDouble}

/** Keyed scalar reading for the drift screen (string-keyed twin of
  * EventRow — e18 keys on event_type where a2/st13 key on user_id). */
case class KeyedEvent(key: String, event_id: Long, secs: Long, value: Double)

/** Emitted full-window mean shift at one row. */
case class ShiftRow(event_id: Long, key: String, value: Double, shift: Double)

/** Per-key sliding buffer: the last ≤ 2W−1 readings. `micros` carries
  * each value pre-rounded to a 6dp unscaled long so window sums are
  * EXACT integer adds — the streaming spelling of the batch scan's
  * DECIMAL(18,6) window sums (order-independent, engine-stable). */
case class DriftBuf(ids: Array[Long], vals: Array[Double], micros: Array[Long])

/** st17_stream_drift — streaming twin of e18's two-window mean-shift
  * scan (SURVEY.md §2.H): per key, once a row has W complete readings
  * on each side, emit mean(after W) − mean(before W) for it. A row's
  * shift becomes decidable exactly when the W-th reading AFTER it
  * arrives, so the stream emits with a fixed W-row lag — the price of
  * a two-sided statistic on one-sided time. (The batch op's per-key
  * top-20 is a rank over the whole history; the stream emits the full
  * scan and leaves ranking to the consumer — st7's capped-table
  * discipline fits downstream.)
  *
  * Arithmetic is IDENTICAL to [[graft.operators.EventOps.driftScan]]:
  * per-value HALF_UP 6dp decimal (here an unscaled long; integer adds
  * ≡ decimal window sums), one correctly-rounded decimal→double cast
  * per window, then shift = sa/W − sb/W in doubles and a final HALF_UP
  * 6dp round (Spark's `round`) — so the replayed-stream twin spec
  * asserts row-for-row EQUALITY, not approximation.
  *
  * Ordering: rows within a micro-batch sort by (secs, event_id) per
  * key; cross-batch order is the source's responsibility (the st8/st9
  * contract).
  *
  * Scale: O(W) state per key (2W−1 readings — the two-sided window IS
  * the state lower bound), hash-partitioned; per-row work is O(W)
  * integer adds, matching the batch row-frame. */
object StreamDrift {

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  def detect(rows: Dataset[KeyedEvent], w: Int = 50): Dataset[ShiftRow] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.key)
      .flatMapGroupsWithState[DriftBuf, ShiftRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[KeyedEvent], state: GroupState[DriftBuf]) =>
          val st = state.getOption.getOrElse(
            DriftBuf(Array.empty, Array.empty, Array.empty))
          val ids = scala.collection.mutable.ArrayBuffer.from(st.ids)
          val vals = scala.collection.mutable.ArrayBuffer.from(st.vals)
          val micros = scala.collection.mutable.ArrayBuffer.from(st.micros)
          val out = Vector.newBuilder[ShiftRow]
          it.toArray.sortBy(r => (r.secs, r.event_id)).foreach { r =>
            ids += r.event_id
            vals += r.value
            micros += micro6(r.value)
            val len = ids.length
            if (len >= 2 * w) {
              // the row W back now has a complete after-window
              val c = len - w
              var sb = 0L
              var sa = 0L
              var i = c - w
              while (i < c) { sb += micros(i); i += 1 }
              while (i < len) { sa += micros(i); i += 1 }
              val shift = microsToDouble(sa) / w - microsToDouble(sb) / w
              out += ShiftRow(ids(c), key, vals(c), round6(shift))
            }
          }
          val keep = math.max(0, ids.length - (2 * w - 1))
          state.update(DriftBuf(ids.drop(keep).toArray,
            vals.drop(keep).toArray, micros.drop(keep).toArray))
          out.result().iterator
      }
  }
}
