package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec

/** The reference's SERVING seam (app3_ML.py:300-403): the dashboard
  * polls its per-entity outlier tables and current-state snapshot
  * after every micro-batch, WHILE the stream keeps running. These
  * specs drive that read path against live queries — each read happens
  * with the query still active (`isActive` asserted), between
  * micro-batches, and must see a consistent, converging view: never a
  * torn write, never a key regressing to older state.
  */
class ServingReadSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("st24 snapshot serves consistent reads while the stream runs") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val dir = tempDir("serve24").toString
    val in = MemoryStream[(String, Long, Double, Long)]
    val q = StreamSnapshot.latestPerKey(
        in.toDF().toDF("event_type", "secs", "value", "event_id"), dir)
      .start()
    // the "producer": four bursts; the "dashboard": a read after each,
    // with the query still active
    val bursts = Seq(
      Seq(("solar", 10L, 1.0, 1L), ("wind", 10L, 2.0, 2L)),
      Seq(("solar", 20L, 3.0, 3L)),
      Seq(("wind", 5L, 9.0, 4L), ("hydro", 7L, 4.0, 5L)), // wind is STALE
      Seq(("solar", 30L, 5.0, 6L)))
    var fed = Seq.empty[(String, Long, Double, Long)]
    var lastSeen = Map.empty[String, (Long, Long)] // key -> (secs, event_id)
    bursts.foreach { burst =>
      in.addData(burst)
      q.processAllAvailable()
      assert(q.isActive, "the stream must still be running at read time")
      fed = fed ++ burst
      val snap = StreamSnapshot.current(spark, dir).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3))))
        .toMap
      // the mid-stream read IS the batch argmax of everything fed so far
      val expect = fed.groupBy(_._1).view
        .mapValues(rs => rs.maxBy(x => (x._2, x._4))).toMap
      assert(snap.keySet == expect.keySet)
      expect.foreach { case (k, (_, secs, v, id)) =>
        assert(snap(k) == ((secs, v, id)), s"key $k at burst ${fed.size}")
      }
      // convergence: a served key never regresses to older state
      snap.foreach { case (k, (secs, _, id)) =>
        lastSeen.get(k).foreach { case (ps, pid) =>
          assert(secs >= ps && id >= pid, s"key $k regressed")
        }
        lastSeen += k -> ((secs, id))
      }
    }
    q.stop()
    // the stale wind row (secs=5 after secs=10) never surfaced
    assert(lastSeen("wind") == ((10L, 2L)))
  }

  test("st7 outlier table serves the dashboard mid-stream, capped per key") {
    implicit val sc = spark.sqlContext
    implicit val ss = spark
    import spark.implicits._
    val in = MemoryStream[Flagged]
    val q = OutlierTable.table(in.toDS(), cap = 3)
      .writeStream.format("memory").queryName("serve7_out")
      .outputMode(OutputMode.Update).start()
    def f(sec: Int, p: String = "solar") =
      Flagged(ts(f"2024-01-01 00:00:$sec%02d"), p, 100.0 + sec, 3.5, 0.7)
    // dashboard read loop: after each batch, the latest snapshot of a
    // key is its last emitted table — capped, most-recent-by-ts
    val feeds = Seq(Seq(f(1), f(2)), Seq(f(3), f(4)), Seq(f(5)))
    var emitted = 0
    feeds.zipWithIndex.foreach { case (batch, bi) =>
      in.addData(batch: _*)
      q.processAllAvailable()
      assert(q.isActive)
      val rows = spark.table("serve7_out").collect()
      val latest = rows.drop(emitted) // this batch's refreshed snapshot
      emitted = rows.length
      val totalFed = feeds.take(bi + 1).map(_.size).sum
      val expectSecs = (1 to totalFed).takeRight(3)
      val gotSecs = latest
        .map(_.getAs[Timestamp]("ts").getTime / 1000 % 60).sorted
      assert(gotSecs.sameElements(expectSecs.map(_.toLong)),
        s"batch $bi: want $expectSecs got ${gotSecs.mkString(",")}")
    }
    q.stop()
  }
}
