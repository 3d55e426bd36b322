package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** SURVEY.md §2.H st24 — foreachBatch upsert snapshot (latest row per
  * key), merged across micro-batches via versioned parquet. */
class StreamSnapshotSpec extends SparkSpec {

  test("st24 foreachBatch snapshot converges to the batch argmax per key") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val dir = tempDir("st24snap").toString
    val ev = graft.Tables.events(spark, sf)
      .select($"event_type", $"ts".cast("long").as("secs"), $"value",
        $"event_id")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val in = MemoryStream[(String, Long, Double, Long)]
    val q = StreamSnapshot.latestPerKey(
        in.toDF().toDF("event_type", "secs", "value", "event_id"), dir)
      .start()
    // four micro-batches → four merge cycles over the versioned store
    ev.grouped(ev.length / 4 + 1).foreach { chunk =>
      in.addData(chunk.toSeq); q.processAllAvailable()
    }
    q.stop()
    // versioned commits exist and are monotone
    assert(StreamSnapshot.latestVersion(spark, dir).exists(_ >= 3))
    val snap = StreamSnapshot.current(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    // batch twin: argmax by (secs, event_id) per key over ALL events
    val expected = ev.groupBy(_._1).view.mapValues(rows =>
      rows.maxBy(r => (r._2, r._4))).toMap
    assert(snap.keySet == expected.keySet)
    expected.foreach { case (k, (_, secs, value, id)) =>
      assert(snap(k) == ((secs, value, id)), s"key $k diverged")
    }
    // the snapshot is one row per key, not an event log
    assert(snap.size == expected.size)
  }

  test("st24 replayed batch merges pre-batch state, not its own committed write") {
    import spark.implicits._
    val dir = tempDir("st24replay").toString
    def row(t: String, s: Long, v: Double, id: Long) =
      Seq((t, s, v, id)).toDF("event_type", "secs", "value", "event_id")
    // batch 0 committed v0; batch 1's parquet write committed (v1 +
    // _SUCCESS exists) but its checkpoint commit didn't land
    row("a", 1L, 1.0, 1L).coalesce(1).write.parquet(s"$dir/v0")
    row("a", 2L, 2.0, 2L).coalesce(1).write.parquet(s"$dir/v1")
    // readers see v1; the batch-1 replay must see only v0
    assert(StreamSnapshot.latestVersion(spark, dir).contains(1L))
    assert(StreamSnapshot.latestVersion(spark, dir, maxExclusive = 1L)
      .contains(0L))
    // the replay itself: merge state<1 with batch-1 rows, overwrite v1
    // — must NOT throw "Cannot overwrite a path that is also being read
    // from" and must reproduce the identical v1 content
    val merged = StreamSnapshot.mergeBatch(
      StreamSnapshot.current(spark, dir, maxExclusive = 1L),
      row("a", 2L, 2.0, 2L))
    merged.coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/v1")
    val snap = StreamSnapshot.current(spark, dir).collect()
    assert(snap.length == 1 &&
      snap.head.getLong(1) == 2L && snap.head.getLong(3) == 2L)
  }
}
