package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One keyed, possibly-null reading to repair (v = None models the
  * dropped/invalid measurement — the sensor-dropout case the reference
  * handles by dropna, app/app3_ML.py:119-121). */
case class GapRow(key: Long, event_id: Long, secs: Long, v: Option[Double])

/** The repaired reading: `filled` carries the key's most recent valid
  * value (None until one exists). Matches e13_gap_fill's row shape. */
case class FilledRow(event_id: Long, user_id: Long, secs: Long,
    v: Option[Double], filled: Option[Double], was_gap: Boolean)

/** st9_forward_fill — streaming forward-fill repair per key
  * (SURVEY.md §2.H): the streaming twin of e13_gap_fill, with O(1)
  * state per key (ONE double — the last valid value), versus the batch
  * twin's full-history window. At pipeline scale this is the repair
  * step between ingest and detection: replace dropout nulls with the
  * key's last good reading instead of dropping rows.
  *
  * Ordering: rows within a micro-batch are sorted by (secs, event_id)
  * per key before the scan, so intra-batch disorder is absorbed;
  * cross-batch order is the source's responsibility (standard for
  * sequential-state streaming ops — same contract as st8's CUSUM).
  *
  * Scale: state is a single Option[Double] per key, hash-partitioned
  * across executors; the only shuffle is the groupByKey exchange.
  * TwinEquivalenceSpec replays the real events table through this and
  * asserts equality with the DuckDB-oracled e13 output.
  */
object ForwardFill {

  def fill(rows: Dataset[GapRow]): Dataset[FilledRow] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.key)
      .flatMapGroupsWithState[Option[Double], FilledRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, it: Iterator[GapRow], state: GroupState[Option[Double]]) =>
          val batch = it.toArray.sortBy(r => (r.secs, r.event_id))
          var last: Option[Double] = state.getOption.flatten
          val out = batch.map { r =>
            if (r.v.isDefined) last = r.v
            FilledRow(r.event_id, key, r.secs, r.v,
              if (r.v.isDefined) r.v else last, r.v.isEmpty)
          }
          state.update(last)
          out.iterator
      }
  }
}
