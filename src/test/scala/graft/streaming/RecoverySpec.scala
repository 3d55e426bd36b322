package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.SparkSpec

/** Streaming crash-recovery: a checkpointed stateful query is killed
  * mid-stream and restarted from its checkpoint. The restarted query
  * must (a) resume the per-key state built BEFORE the crash — the
  * frozen CUSUM baseline, not a fresh one — and (b) deliver outputs
  * exactly once under the idempotent-by-batch-id sink contract
  * (foreachBatch re-runs the same id on replay; keying the sink by id
  * makes redelivery invisible, which is exactly how the st24 snapshot
  * sink and every production foreachBatch sink absorb replays).
  */
class RecoverySpec extends SparkSpec {

  private def ts(sec: Int) = Timestamp.valueOf(
    f"2024-01-01 ${sec / 3600}%02d:${sec / 60 % 60}%02d:${sec % 60}%02d")

  test("st8 CUSUM state survives a kill/restart; alarms deliver exactly once") {
    implicit val sc = spark.sqlContext
    implicit val ss = spark
    import spark.implicits._
    val cp = tempDir("st8cp").toString
    // idempotent sink: batch id -> rows; a replayed id overwrites itself
    val sink = scala.collection.concurrent.TrieMap[Long, Seq[DriftAlarm]]()
    val in = MemoryStream[Reading]
    def start() = DriftDetector.detect(in.toDS())
      .writeStream
      .option("checkpointLocation", cp)
      .foreachBatch { (ds: Dataset[DriftAlarm], id: Long) =>
        sink(id) = ds.collect().toSeq; ()
      }
      .start()

    def r(sec: Int, v: Double) = Reading(ts(sec), "drifty", v, 0.0, 50.0)

    // ---- phase 1: build the 50-reading baseline (±1 around 100) plus
    // 10 stationary readings; no alarms expected
    val q1 = start()
    in.addData((0 until 60).map(i => r(i, if (i % 2 == 0) 101.0 else 99.0)))
    q1.processAllAvailable()
    assert(sink.values.flatten.isEmpty, "stationary phase must not alarm")
    val batchesBeforeCrash = sink.keySet.toSet

    // ---- the crash
    q1.stop()

    // ---- phase 2: restart from the checkpoint and feed a sustained
    // +3 shift. THREE readings suffice ONLY against the pre-crash
    // baseline (sd=1: S+ = 2.5, 5.0, 7.5 > h=5): a fresh query would
    // still be accumulating baseline (n=3 < 50) and stay silent — so
    // the alarm itself proves the state recovered.
    val q2 = start()
    in.addData(Seq(r(60, 103.0), r(61, 103.0), r(62, 103.0)))
    q2.processAllAvailable()
    q2.stop()

    val alarms = sink.values.flatten.toSeq
    assert(alarms.length == 1, s"exactly one alarm, got $alarms")
    val a = alarms.head
    assert(a.plant_type == "drifty" && a.side == "up")
    assert(a.ts == ts(62), "alarm fires on the third post-restart reading")
    assert(a.stat == 7.5, s"S+/sd must resume from the recovered state: $a")
    // replay accounting: a restart that lost the checkpoint would begin
    // again at batch 0 and re-read EVERYTHING, landing the alarm in a
    // pre-crash batch id — so the pre-crash ids staying empty and the
    // alarm arriving on a strictly newer id together prove offsets were
    // recovered, not re-read
    batchesBeforeCrash.foreach { id =>
      assert(sink(id).isEmpty, s"pre-crash batch $id re-ran with data")
    }
    assert(sink.filter(_._2.nonEmpty).keys.min > batchesBeforeCrash.max)
  }

  test("st3 sliding-window state survives a kill/restart; flags equal an uninterrupted run") {
    // RingState is what Pipeline.detect (graft.Live's detector) carries
    // across micro-batches: each key's last WindowCap feature vectors
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val keys = Seq("plant_a", "plant_b")
    def r(k: String, sec: Int, v: Double) = Reading(ts(sec), k, v, 90.0, 50.0)
    // phase 1: 60 in-band readings per key — past MinTrain (30)
    val warm = for (i <- 0 until 60; k <- keys) yield r(k, i, 100.0 + (i % 7) * 0.5)
    // phase 2: 3 readings per key (< MinTrain) holding a planted spike
    val spiked = keys.flatMap(k =>
      Seq(r(k, 120, 101.0), r(k, 121, 400.0), r(k, 122, 102.0)))
    assert(spiked.count(_.plant_type == keys.head) < SlidingDetector.MinTrain)
    def run(cp: String, restart: Boolean): Seq[Flagged] = {
      val sink = scala.collection.concurrent.TrieMap[Long, Seq[Flagged]]()
      val in = MemoryStream[Reading]
      def start() = SlidingDetector.detect(in.toDS())
        .writeStream
        .option("checkpointLocation", cp)
        .foreachBatch { (ds: Dataset[Flagged], id: Long) =>
          sink(id) = ds.collect().toSeq; ()
        }
        .start()
      val q1 = start()
      in.addData(warm)
      q1.processAllAvailable()
      val q2 = if (restart) { q1.stop(); start() } else q1
      in.addData(spiked)
      q2.processAllAvailable()
      q2.stop()
      sink.values.flatten.toSeq.sortBy(f => (f.plant_type, f.ts.getTime))
    }
    def tmp(prefix: String) =
      tempDir(prefix).toString
    val restarted = run(tmp("st3cp"), restart = true)
    val straight = run(tmp("st3cp1"), restart = false)
    // a fresh store would hold 3 rows per key (< MinTrain) and score
    // nothing, so each spike's flag proves its key's window recovered
    keys.foreach { k =>
      val spike = restarted.find(f => f.plant_type == k && f.power_output == 400.0)
      assert(spike.exists(f => math.abs(f.zscore) > SlidingDetector.ZThresh),
        s"$k's spike not flagged after restart: $restarted")
    }
    assert(restarted == straight,
      s"restarted flags $restarted differ from uninterrupted $straight")
  }

  test("an st3 checkpoint keyed by groupByKey(_.plant_type) restarts under column keying") {
    // st3 keyed its state by a key function before it keyed by the
    // plant_type column. The state key is then named `value`, not
    // `plant_type`; a checkpoint written that way must still resume,
    // with every key's window intact
    implicit val sc = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val keys = Seq("plant_a", "plant_b")
    def r(k: String, sec: Int, v: Double) = Reading(ts(sec), k, v, 90.0, 50.0)
    val warm = for (i <- 0 until 60; k <- keys) yield r(k, i, 100.0 + (i % 7) * 0.5)
    val spiked = keys.flatMap(k =>
      Seq(r(k, 120, 101.0), r(k, 121, 400.0), r(k, 122, 102.0)))
    def byKeyFunction(in: Dataset[Reading]) =
      in.groupByKey(_.plant_type)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
          SlidingDetector.detectGroup)
    def run(cp: String, first: Dataset[Reading] => Dataset[Flagged]): Seq[Flagged] = {
      val sink = scala.collection.concurrent.TrieMap[Long, Seq[Flagged]]()
      val in = MemoryStream[Reading]
      def start(detect: Dataset[Reading] => Dataset[Flagged]) = detect(in.toDS())
        .writeStream
        .option("checkpointLocation", cp)
        .foreachBatch { (ds: Dataset[Flagged], id: Long) =>
          sink(id) = ds.collect().toSeq; ()
        }
        .start()
      val q1 = start(first)
      in.addData(warm)
      q1.processAllAvailable()
      q1.stop()
      val q2 = start(SlidingDetector.detect)
      in.addData(spiked)
      q2.processAllAvailable()
      q2.stop()
      sink.values.flatten.toSeq.sortBy(f => (f.plant_type, f.ts.getTime))
    }
    val resumed = run(tempDir("st3cp_keyfn").toString, byKeyFunction)
    val columnOnly = run(tempDir("st3cp_col").toString, SlidingDetector.detect)
    keys.foreach { k =>
      assert(resumed.exists(f => f.plant_type == k && f.power_output == 400.0 &&
        math.abs(f.zscore) > SlidingDetector.ZThresh),
        s"$k's spike not flagged after the restart: $resumed")
    }
    assert(resumed == columnOnly,
      s"flags after a key-function checkpoint $resumed differ from $columnOnly")
  }

  test("a checkpoint written by Spark's default manager, killed before its commit, resumes under the local one") {
    // the shipped session writes checkpoints through
    // LocalCheckpointFileManager; a checkpoint an older build wrote
    // through Spark's default manager (checksum sidecars and all) must
    // resume under it with the batch that never committed re-run
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    assert(spark.conf.get(key) == classOf[LocalCheckpointFileManager].getName)
    val sparkDefault = spark.newSession()
    sparkDefault.conf.unset(key)
    val keys = Seq("plant_a", "plant_b")
    def r(k: String, sec: Int, v: Double) = Reading(ts(sec), k, v, 90.0, 50.0)
    val warm = for (i <- 0 until 60; k <- keys) yield r(k, i, 100.0 + (i % 7) * 0.5)
    val mid = for (i <- 60 until 70; k <- keys) yield r(k, i, 100.0 + (i % 5) * 0.4)
    val spiked = keys.flatMap(k =>
      Seq(r(k, 120, 101.0), r(k, 121, 400.0), r(k, 122, 102.0)))
    val sink = scala.collection.concurrent.TrieMap[Long, Seq[Flagged]]()
    /** Feeds `batches` to a fresh MemoryStream of `session` and starts
      * st3 on `cp`; `crashAt` makes that batch id's sink fail after its
      * state store committed, i.e. before the commit-log entry. */
    def start(session: SparkSession, cp: String, batches: Seq[Seq[Reading]],
        crashAt: Long = -1L) = {
      val in = MemoryStream[Reading](Encoders.product[Reading], session.sqlContext)
      batches.foreach(in.addData(_))
      val q = SlidingDetector.detect(in.toDS())
        .writeStream
        .option("checkpointLocation", cp)
        .foreachBatch { (ds: Dataset[Flagged], id: Long) =>
          val rows = ds.collect().toSeq
          if (id == crashAt) throw new IllegalStateException(s"killed in batch $id")
          sink(id) = rows
        }
        .start()
      (in, q)
    }
    def flags() = sink.values.flatten.toSeq.sortBy(f => (f.plant_type, f.ts.getTime))
    def tmp(prefix: String) =
      tempDir(prefix).toString
    def exists(cp: String, rel: String) =
      java.nio.file.Files.exists(java.nio.file.Paths.get(cp, rel))

    // ---- phase 1, default manager: batch 0 commits, batch 1 dies
    // after writing its state delta
    val cp = tmp("st3cp_default")
    val (in1, q1) = start(sparkDefault, cp, Seq(warm), crashAt = 1L)
    q1.processAllAvailable()
    in1.addData(mid)
    intercept[StreamingQueryException](q1.processAllAvailable())
    q1.stop()
    assert(exists(cp, "commits/0") && exists(cp, "commits/.0.crc"),
      "batch 0 must have committed through the checksummed default manager")
    assert(exists(cp, "offsets/1") && !exists(cp, "commits/1"),
      "the kill must land between batch 1's offsets and its commit")
    val deltas = (0 until spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .count(p => exists(cp, s"state/0/$p/2.delta"))
    assert(deltas > 0, "batch 1's state delta must be written before the kill")

    // ---- phase 2, shipped session: batch 1 re-runs, then the spike
    val (in2, q2) = start(spark, cp, Seq(warm, mid))
    q2.processAllAvailable()
    in2.addData(spiked)
    q2.processAllAvailable()
    q2.stop()
    assert(sink.keySet == Set(0L, 1L, 2L), "batch 1 must re-run after the resume")
    assert(exists(cp, "commits/1") && exists(cp, "commits/2"))
    assert(!exists(cp, "commits/.1.crc") && !exists(cp, "commits/.2.crc"),
      "the resumed query must write through the local manager")
    val resumed = flags()

    sink.clear()
    val (in3, q3) = start(spark, tmp("st3cp_straight"), Seq(warm))
    q3.processAllAvailable()
    in3.addData(mid)
    q3.processAllAvailable()
    in3.addData(spiked)
    q3.processAllAvailable()
    q3.stop()
    val straight = flags()
    assert(straight.exists(_.power_output == 400.0), s"no spike flagged: $straight")
    assert(resumed == straight,
      s"resumed flags $resumed differ from uninterrupted $straight")
  }

  test("RocksDB-provider st8 state survives a restart after 3 batches; alarms equal an uninterrupted run") {
    // the provider StateSoak and LiveSoak configure: its checkpoint is
    // a tree of changelog/zip/SST files, all through the manager
    val rocks = spark.newSession()
    rocks.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val keys = (0 until 3).map(k => s"plant_$k")
    def r(k: String, sec: Int, v: Double) = Reading(ts(sec), k, v, 0.0, 50.0)
    def stationary(from: Int, until: Int) = for (i <- from until until; k <- keys)
      yield r(k, i, if (i % 2 == 0) 101.0 else 99.0)
    // 3 batches build and hold each key's 50-reading baseline (ending
    // on a 99 so S+ sits at 0); the 4th, after the restart, shifts +3
    val before = Seq(stationary(0, 30), stationary(30, 50), stationary(50, 54))
    val shift = for (i <- 54 until 57; k <- keys) yield r(k, i, 103.0)
    def run(restart: Boolean): Seq[DriftAlarm] = {
      val cp = tempDir("st8rocks").toString
      val sink = scala.collection.concurrent.TrieMap[Long, Seq[DriftAlarm]]()
      val in = MemoryStream[Reading](Encoders.product[Reading], rocks.sqlContext)
      def start() = DriftDetector.detect(in.toDS())
        .writeStream
        .option("checkpointLocation", cp)
        .foreachBatch { (ds: Dataset[DriftAlarm], id: Long) =>
          sink(id) = ds.collect().toSeq; ()
        }
        .start()
      val q1 = start()
      before.foreach { b => in.addData(b); q1.processAllAvailable() }
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(cp, "commits/2")) &&
        !java.nio.file.Files.exists(java.nio.file.Paths.get(cp, "commits/3")),
        "3 batches before the restart")
      val q2 = if (restart) { q1.stop(); start() } else q1
      in.addData(shift)
      q2.processAllAvailable()
      q2.stop()
      sink.values.flatten.toSeq.sortBy(a => (a.plant_type, a.ts.getTime))
    }
    val restarted = run(restart = true)
    val straight = run(restart = false)
    // a fresh store would still be baselining and raise nothing
    assert(restarted.length == keys.length &&
      restarted.forall(a => a.side == "up" && a.stat == 7.5),
      s"every key must alarm once from its recovered baseline: $restarted")
    assert(restarted == straight,
      s"restarted alarms $restarted differ from uninterrupted $straight")
  }

  test("st8 recovery at 10^4 keys: every key's state survives, alarms exactly once") {
    // the r6 verdict's scale-recovery gap: the 1-key test proves the
    // MECHANISM; this proves the state STORE — 10,000 independent CUSUM
    // baselines (530k pre-crash rows) checkpointed, killed, restarted,
    // then a +3σ shift on EVERY key. Exactly one alarm per key, each
    // with the stat only the recovered baseline can produce.
    implicit val sc = spark.sqlContext
    implicit val ss = spark
    import spark.implicits._
    val nKeys = 10000
    val cp = tempDir("st8cp10k").toString
    val sink = scala.collection.concurrent.TrieMap[Long, Seq[DriftAlarm]]()
    val in = MemoryStream[Reading]
    def start() = DriftDetector.detect(in.toDS())
      .writeStream
      .option("checkpointLocation", cp)
      .foreachBatch { (ds: Dataset[DriftAlarm], id: Long) =>
        sink(id) = ds.collect().toSeq; ()
      }
      .start()
    def key(k: Int) = f"plant_$k%05d"
    def r(k: Int, sec: Int, v: Double) =
      Reading(ts(sec), key(k), v, 0.0, 50.0)
    // phase 1: 54 stationary readings per key (baseline 50 + 4 inside
    // the slack band, ENDING on the 99 so S+ sits at 0 pre-crash),
    // all keys interleaved
    val q1 = start()
    in.addData(for (i <- 0 until 54; k <- 0 until nKeys)
      yield r(k, i, if (i % 2 == 0) 101.0 else 99.0))
    q1.processAllAvailable()
    assert(sink.values.flatten.isEmpty, "stationary phase must not alarm")
    val before = sink.keySet.toSet
    q1.stop()
    // phase 2: restart; three +3 readings per key — alarms ONLY if all
    // 10^4 baselines were recovered (a fresh store is still baselining)
    val q2 = start()
    in.addData(for (i <- 54 until 57; k <- 0 until nKeys)
      yield r(k, i, 103.0))
    q2.processAllAvailable()
    q2.stop()
    val alarms = sink.values.flatten.toSeq
    assert(alarms.length == nKeys,
      s"exactly one alarm per key: got ${alarms.length}")
    assert(alarms.map(_.plant_type).distinct.length == nKeys)
    assert(alarms.forall(a => a.side == "up" && a.stat == 7.5),
      "every alarm must carry the recovered-baseline statistic")
    before.foreach(id => assert(sink(id).isEmpty, s"pre-crash batch $id re-ran"))
  }

  test("st24 snapshot recovery at 10^4 keys: merge resumes from the committed version") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val nKeys = 10000
    val dir = tempDir("st24snap10k").toString
    val cp = tempDir("st24cp10k").toString
    val in = MemoryStream[(String, Long, Double, Long)]
    def start() = StreamSnapshot.latestPerKey(
        in.toDF().toDF("event_type", "secs", "value", "event_id"), dir)
      .option("checkpointLocation", cp)
      .start()
    def key(k: Int) = f"k$k%05d"
    // phase 1: one row per key, committed, then crash
    val q1 = start()
    in.addData((0 until nKeys).map(k => (key(k), 100L, 1.0, k.toLong)))
    q1.processAllAvailable()
    q1.stop()
    val v1 = StreamSnapshot.latestVersion(spark, dir)
    assert(v1.nonEmpty, "phase-1 snapshot must have committed")
    // phase 2: restart; newer rows for HALF the keys only
    val q2 = start()
    in.addData((0 until nKeys / 2).map(k =>
      (key(k), 200L, 2.0, (nKeys + k).toLong)))
    q2.processAllAvailable()
    q2.stop()
    val snap = StreamSnapshot.current(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // exactly one row per key — updated half AND the untouched half
    // (the latter only exists if the pre-crash version was read back)
    assert(snap.size == nKeys, s"snapshot must hold all keys: ${snap.size}")
    (0 until nKeys / 2).foreach(k =>
      assert(snap(key(k)) == ((200L, 2.0)), s"key $k not upserted"))
    (nKeys / 2 until nKeys).foreach(k =>
      assert(snap(key(k)) == ((100L, 1.0)), s"key $k lost in recovery"))
  }

  test("st12 session assembly survives a kill/restart across the gap") {
    implicit val sc = spark.sqlContext
    implicit val ss = spark
    import spark.implicits._
    val cp = tempDir("st12cp").toString
    val sink = scala.collection.concurrent.TrieMap[Long, Seq[org.apache.spark.sql.Row]]()
    val in = MemoryStream[(Timestamp, String, Double)]
    def start() = SessionWindow.sessions(
        in.toDF().toDF("ts", "plant_type", "power_output"),
        tsCol = "ts", keyCols = Seq("plant_type"),
        aggs = Seq(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_events")),
        gap = "30 minutes", watermark = "10 seconds")
      .writeStream
      .option("checkpointLocation", cp)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        sink(id) = df.collect().toSeq; ()
      }
      .start()
    // one session's first half before the crash…
    val q1 = start()
    in.addData((ts(0), "solar", 10.0), (ts(600), "solar", 20.0))
    q1.processAllAvailable()
    q1.stop()
    // …second half + a watermark-advancing straggler after restart: the
    // halves must fuse into ONE session, which requires the recovered
    // session state, not a fresh store
    val q2 = start()
    in.addData((ts(1200), "solar", 30.0))
    in.addData((ts(20000), "solar", 1.0)) // pushes the watermark past the gap
    q2.processAllAvailable()
    q2.stop()
    val sessions = sink.values.flatten.toSeq
      .filter(_.getAs[Long]("n_events") == 3L)
    assert(sessions.length == 1,
      s"the pre/post-crash halves must fuse into one 3-event session: " +
        s"${sink.values.flatten.mkString(";")}")
  }
}
