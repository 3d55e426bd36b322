package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming state-scale soak (VERDICT r7 item 5): st8's per-key CUSUM
  * at 10⁵–10⁶ keys with the RocksDB state store — one order of
  * magnitude past RecoverySpec's 10⁴-key kill/restart spec, run as a
  * scripted main because a million-key soak doesn't belong in the
  * 8-minute suite.
  *
  * Shape: every key builds its 50-reading Welford baseline
  * (alternating ±1 around 100 → sd exactly 1), arms, rides 5
  * stationary readings, then the query is KILLED and restarted from
  * its checkpoint, and 1% of keys drift +3σ for 4 readings — the
  * alarm (S⁺ = 2.5, 5.0, 7.5 > h = 5σ on the third drift reading)
  * fires iff the per-key baseline state survived the restart, so the
  * exact alarm count is the recovery proof at scale. 4 drift readings
  * (not 5) keep the post-reset accumulation at 5.0−ε, away from the
  * h = 5σ boundary's floating-point coin flip.
  *
  * Measured and printed per phase: per-batch wall latency, state rows,
  * state memory, and the RocksDB SST footprint from
  * StateOperatorProgress — the numbers §10 of
  * `git show acf731b:SURVEY.md` records for the
  * 100 TB streaming claim (state is O(1) per key here; st3/st14's
  * O(cap·dim) rings scale the same hash-partitioned way with a larger
  * constant).
  *
  * Run: `scripts/run.sh graft.streaming.StateSoak [nKeys]`
  * (default 100000; 1e6 wants SPARK_DRIVER_MEM=16g).
  */
object StateSoak {
  def main(args: Array[String]): Unit = {
    val nKeys = args.headOption.map(_.toInt).getOrElse(100000)
    val driftKeys = math.max(nKeys / 100, 1)
    // ≤ ~500k-row driver batches: 5 readings/key/batch at 1e5 keys,
    // 1 at 1e6
    val perBatch = math.max(1, 500000 / nKeys)
    val spark = graft.GraftSession.local(appName = "graft-state-soak")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val s: SparkSession = spark
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val cp = java.nio.file.Files.createTempDirectory("graft_soak_cp").toString
    val alarmCount = new java.util.concurrent.atomic.AtomicLong(0)
    // foreachBatch is at-least-once (ADVICE r8): a batch replayed after
    // the checkpoint restart re-presents the SAME batchId — count each
    // id once, so a replay can't double-count into the exact-alarm
    // require as a spurious failure
    val seenBatches = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val in = MemoryStream[Reading]
    def start() = DriftDetector.detect(in.toDS())
      .writeStream
      .option("checkpointLocation", cp)
      .foreachBatch { (ds: Dataset[DriftAlarm], batchId: Long) =>
        if (seenBatches.add(batchId)) alarmCount.addAndGet(ds.count()); ()
      }
      .start()

    def key(k: Int) = f"plant_$k%07d"
    def v(k: Int, idx: Int): Double =
      if (idx >= 55 && idx <= 58 && k < driftKeys) 103.0
      else if (idx % 2 == 0) 101.0 else 99.0
    def rows(idxFrom: Int, idxUntil: Int): Seq[Reading] =
      (idxFrom until idxUntil).flatMap { idx =>
        val ts = new Timestamp(1700000000000L + idx * 1000L)
        (0 until nKeys).map(k => Reading(ts, key(k), v(k, idx), 0.0, 50.0))
      }

    case class BatchStat(sec: Double, stateRows: Long, stateMemMb: Double,
        sstMb: Double)
    def stat(q: org.apache.spark.sql.streaming.StreamingQuery): BatchStat = {
      val p = q.lastProgress
      val so = p.stateOperators(0)
      val sst = Option(so.customMetrics.get("rocksdbSstFileSize"))
        .map(_.longValue()).getOrElse(0L)
      BatchStat(p.batchDuration / 1000.0, so.numRowsTotal,
        so.memoryUsedBytes / 1048576.0, sst / 1048576.0)
    }

    // ---- phase 1: baseline (idx 0..49) + 5 armed stationary readings
    val t0 = System.nanoTime()
    val q1 = start()
    val armed = scala.collection.mutable.ArrayBuffer[BatchStat]()
    var idx = 0
    while (idx < 55) {
      val hi = math.min(idx + perBatch, 55)
      in.addData(rows(idx, hi))
      q1.processAllAvailable()
      armed += stat(q1)
      idx = hi
    }
    require(alarmCount.get() == 0, s"stationary phase alarmed: $alarmCount")
    val phase1Sec = (System.nanoTime() - t0) / 1e9

    // ---- the kill
    q1.stop()

    // ---- phase 2: restart from checkpoint, drift 1% of keys
    val t1 = System.nanoTime()
    val q2 = start()
    val drift = scala.collection.mutable.ArrayBuffer[BatchStat]()
    idx = 55
    while (idx < 60) {
      val hi = math.min(idx + perBatch, 60)
      in.addData(rows(idx, hi))
      q2.processAllAvailable()
      drift += stat(q2)
      idx = hi
    }
    q2.stop()
    val phase2Sec = (System.nanoTime() - t1) / 1e9

    require(alarmCount.get() == driftKeys,
      s"expected exactly $driftKeys post-restart alarms (one per drifted " +
        s"key, proving every baseline recovered), got ${alarmCount.get()}")

    def cpBytes: Long = {
      val root = java.nio.file.Paths.get(cp)
      val acc = new java.util.concurrent.atomic.AtomicLong(0)
      // Files.walk holds directory handles until closed (ADVICE r8) —
      // a RocksDB checkpoint tree is large enough to leak noticeably
      val walk = java.nio.file.Files.walk(root)
      try walk.forEach { p =>
        if (java.nio.file.Files.isRegularFile(p))
          acc.addAndGet(java.nio.file.Files.size(p))
      } finally walk.close()
      acc.get()
    }
    def fmt(b: Seq[BatchStat]) = {
      val last = b.last
      f"""{"batches":${b.size},"max_batch_sec":${b.map(_.sec).max}%.2f,""" +
        f""""last_batch_sec":${last.sec}%.2f,"state_rows":${last.stateRows},""" +
        f""""state_mem_mb":${last.stateMemMb}%.1f,"sst_mb":${last.sstMb}%.1f}"""
    }
    println(f"""{"metric":"state_soak","keys":$nKeys,"drift_keys":$driftKeys,""" +
      f""""rows_per_batch":${nKeys * perBatch},"alarms":${alarmCount.get()},""" +
      f""""phase1_sec":$phase1Sec%.1f,"phase2_sec":$phase2Sec%.1f,""" +
      f""""armed":${fmt(armed.toSeq)},"post_restart":${fmt(drift.toSeq)},""" +
      f""""checkpoint_mb":${cpBytes / 1048576.0}%.1f,""" +
      s""""provider":"rocksdb"}""")
    spark.stop()
  }
}
