package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Per-key bounded recent-outlier table state. */
case class OutlierTableState(rows: Vector[Flagged])

/** st7_outlier_table — the reference consumer's dashboard feed: a
  * per-entity table of the most recent flagged outliers, capped at the
  * last `cap` rows (reference app/app3_ML.py keeps
  * `outlier_tables[plant_type]` truncated to its last 100 entries).
  *
  * Spark-native form: `flatMapGroupsWithState` downstream of the
  * sliding detector; state per key is the capped vector, and each
  * micro-batch emits the key's refreshed table snapshot (Update mode) —
  * exactly the reference's "dashboard rereads the table after each
  * batch" contract. Batch twin: e10_top_outliers (TopKPerGroup).
  *
  * Scale: state and per-batch output are O(cap) per key; keys hash-
  * partition across executors, so the operator scales with entity
  * cardinality, never event volume.
  *
  * Composition note: Spark allows only one non-append stateful operator
  * per streaming query, so this cannot chain after the (also stateful)
  * sliding detector in a single query. Run it over a flag stream
  * directly (its own query, as the spec does), or derive the table from
  * the detector's append sink batch-side (graft.Live's shape — which is
  * also the reference's: foreachBatch appends, the dashboard rereads).
  */
object OutlierTable {

  val DefaultCap = 100 // reference table truncation

  private[streaming] def mergeGroup(cap: Int)(key: String,
      rows: Iterator[Flagged], state: GroupState[OutlierTableState])
      : Iterator[Flagged] = {
    val cur = state.getOption.map(_.rows).getOrElse(Vector.empty)
    val merged = (cur ++ rows.toVector.sortBy(r => (r.ts.getTime, r.power_output)))
      .takeRight(cap)
    state.update(OutlierTableState(merged))
    merged.iterator
  }

  /** Maintain the capped per-key table over a flagged-outlier stream
    * (SlidingDetector.detect output or any Dataset[Flagged]). Emits the
    * full refreshed snapshot of every key seen in the micro-batch. */
  def table(flagged: Dataset[Flagged], cap: Int = DefaultCap): Dataset[Flagged] = {
    import flagged.sparkSession.implicits._
    flagged.groupByKey(_.plant_type)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        mergeGroup(cap))
  }
}
