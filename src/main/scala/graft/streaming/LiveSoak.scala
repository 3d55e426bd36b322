package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Wall-clock streaming soak (VERDICT r8 item 6): where [[StateSoak]]
  * proves per-batch latency and ONE kill/restart at 10⁵–10⁶ keys, this
  * run proves the week-long-job shape over HOURS — a composed
  * rate-source pipeline (st3 sliding IF detector + st8 CUSUM drift +
  * st24 versioned snapshot sink + a watermarked tumbling count) driven
  * continuously with ≥5 seeded-random kill/restarts, then judged on
  * four invariants:
  *
  *   1. WATERMARK MONOTONICITY — the windowed query's event-time
  *      watermark never regresses across any restart (sampled every
  *      poll tick; ISO strings compare lexicographically).
  *   2. EXACTLY-ONCE ALARMS — st8's input is a deterministic per-key
  *      series (50-reading ±1 baseline → 7-reading +3σ drift every 200
  *      readings → exactly two 'up' alarms per period at S⁺ = 7.5σ), so
  *      each key's observed alarm sequence (foreachBatch-collected,
  *      batchId-deduped) must be an exact PREFIX of the driver-side
  *      replay of the same fold — a lost or duplicated alarm anywhere
  *      breaks prefix equality; rate-source lockstep keeps per-key
  *      alarm counts within one period of each other.
  *   3. FLAT STATE — st3/st8 state rows equal their key cardinality
  *      exactly at the end (per-key O(1)/O(cap·dim) state never grows
  *      with input), and the RocksDB SST footprint after steady state
  *      stays bounded.
  *   4. SNAPSHOT-VERSION MONOTONICITY — st24's committed version only
  *      advances across kills, and the final snapshot content is
  *      correct by construction: every row's value re-derives from its
  *      event_id through the shared generator.
  *
  * Run: `scripts/run.sh graft.streaming.LiveSoak [durationSec] [kills]`
  * (defaults 7200 s, 6 kills). Prints one JSON line; exits nonzero on
  * any violated invariant.
  */
object LiveSoak {

  // ---- deterministic per-key reading series (shared by the stream
  // maps and the driver-side fold replay) --------------------------
  val Period = 200
  val DriftLen = 7
  val DriftVal = 103.0

  /** Reading idx within one key's series: ±1 around 100 while the
    * 50-reading baseline builds (sd = 1), then a 7-reading +3σ drift at
    * the top of every 200-reading period, stationary ±1 between. */
  def genVal(idx: Long): Double =
    if (idx >= DriftDetector.BaselineN &&
        (idx - DriftDetector.BaselineN) % Period < DriftLen) DriftVal
    else if (idx % 2 == 0) 101.0 else 99.0

  /** Driver-side replay of DriftDetector's exact fold (same Welford,
    * same slack/alarm arithmetic, same rounding) over [[genVal]] —
    * the first `count` (side, stat) alarms every key must emit. */
  def expectedAlarms(count: Int): Vector[(String, Double)] = {
    val out = Vector.newBuilder[(String, Double)]
    var got = 0
    var n = 0L; var mean = 0.0; var m2 = 0.0
    var pos = 0.0; var neg = 0.0
    var idx = 0L
    val cap = DriftDetector.BaselineN + (count.toLong / 2 + 2) * Period
    while (got < count && idx < cap) {
      val v = genVal(idx)
      if (n < DriftDetector.BaselineN) {
        val n1 = n + 1
        val d = v - mean
        val mean1 = mean + d / n1
        m2 = m2 + d * (v - mean1); mean = mean1; n = n1
      } else {
        val sd = math.sqrt(m2 / n)
        if (sd > 0) {
          val slack = DriftDetector.SlackK * sd
          val h = DriftDetector.AlarmH * sd
          pos = math.max(0.0, pos + (v - mean - slack))
          neg = math.min(0.0, neg + (v - mean + slack))
          if (pos > h) {
            out += (("up", math.rint(pos / sd * 1e6) / 1e6)); got += 1; pos = 0.0
          }
          if (neg < -h) {
            out += (("down", math.rint(-neg / sd * 1e6) / 1e6)); got += 1; neg = 0.0
          }
        }
      }
      idx += 1
    }
    out.result()
  }

  private case class StateSample(atSec: Long, query: String, rows: Long,
      sstMb: Double)

  def main(args: Array[String]): Unit = {
    val durationSec = args.headOption.map(_.toInt).getOrElse(7200)
    val nKills = args.lift(1).map(_.toInt).getOrElse(6)
    val nKeys8 = 100 // st8 CUSUM keys
    val nKeys3 = 8   // st3 ring keys (IF refit per key per batch is the pricey part)
    val nKeys24 = 50 // st24 snapshot keys
    val spark = graft.GraftSession.local(appName = "graft-live-soak")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val s: SparkSession = spark
    import spark.implicits._

    val root = java.nio.file.Files.createTempDirectory("graft_livesoak").toString
    val snapPath = s"$root/snapshot"

    // ---- collectors (driver-lifetime: they survive query restarts;
    // batchId-keyed putIfAbsent dedupes at-least-once foreachBatch
    // replays exactly like the alarms they count) --------------------
    val alarmBatches = new ConcurrentHashMap[Long, Array[DriftAlarm]]()
    val flagBatches = new ConcurrentHashMap[Long, java.lang.Long]()
    val wmSamples = new ArrayBuffer[String]()
    val versionSamples = new ArrayBuffer[Long]()
    val stateSamples = new ArrayBuffer[StateSample]()

    def rate(rps: Int) = spark.readStream.format("rate")
      .option("rowsPerSecond", rps).load()

    def readings(rps: Int, nKeys: Int): Dataset[Reading] =
      rate(rps).select(col("timestamp"), col("value")).as[(java.sql.Timestamp, Long)]
        .map { case (ts, v) =>
          Reading(ts, f"plant_${v % nKeys}%05d", genVal(v / nKeys), 0.0, 50.0)
        }

    def startSt8(): StreamingQuery =
      DriftDetector.detect(readings(200, nKeys8))
        .writeStream.queryName("st8")
        .option("checkpointLocation", s"$root/cp_st8")
        .trigger(Trigger.ProcessingTime("2 seconds"))
        .foreachBatch { (ds: Dataset[DriftAlarm], id: Long) =>
          alarmBatches.putIfAbsent(id, ds.collect()); ()
        }
        .start()

    def startSt3(): StreamingQuery =
      SlidingDetector.detect(readings(200, nKeys3))
        .writeStream.queryName("st3")
        .option("checkpointLocation", s"$root/cp_st3")
        .trigger(Trigger.ProcessingTime("2 seconds"))
        .foreachBatch { (ds: Dataset[Flagged], id: Long) =>
          flagBatches.putIfAbsent(id, ds.count()); ()
        }
        .start()

    def startSt24(): StreamingQuery =
      StreamSnapshot.latestPerKey(
          rate(100).select(col("value").as("event_id"))
            // integer division (DIV), NOT `/` — Spark's Divide on longs
            // returns double and would desync the replayed generator
            .withColumn("pidx", expr(s"event_id DIV $nKeys24"))
            .select(
              concat(lit("type_"), col("event_id") % nKeys24).as("event_type"),
              col("pidx").as("secs"),
              udfFreeGen(col("pidx")).as("value"),
              col("event_id")),
          snapPath)
        .queryName("st24")
        .option("checkpointLocation", s"$root/cp_st24")
        .trigger(Trigger.ProcessingTime("2 seconds"))
        .start()

    def startWm(): StreamingQuery =
      rate(100)
        .withWatermark("timestamp", "10 seconds")
        .groupBy(window(col("timestamp"), "10 seconds"),
          (col("value") % 10).as("k"))
        .agg(count(lit(1)).as("n"))
        .writeStream.queryName("wm")
        .option("checkpointLocation", s"$root/cp_wm")
        .trigger(Trigger.ProcessingTime("2 seconds"))
        // the count materializes every partition — a noop sink would
        // skip the state-store commits and fail Spark 4's validation
        .foreachBatch { (b: DataFrame, _: Long) => b.count(); () }
        .outputMode("update")
        .start()

    def startAll(): Seq[StreamingQuery] =
      Seq(startSt8(), startSt3(), startSt24(), startWm())

    // seeded random kill schedule: nKills points spread over the middle
    // 80% of the run, jittered, so restarts never align with batch
    // cadence
    val rnd = new scala.util.Random(2026L)
    val killAt = (1 to nKills).map(i =>
      (durationSec.toLong * i / (nKills + 1)) +
        rnd.nextInt(math.max(durationSec / 20, 2)) - durationSec / 40)
      .filter(t => t > 30 && t < durationSec - 30).sorted

    val t0 = System.nanoTime()
    def elapsed: Long = (System.nanoTime() - t0) / 1000000000L

    var queries = startAll()
    var killsDone = 0
    val failures = new ArrayBuffer[String]()

    def sample(): Unit = {
      queries.foreach { q =>
        val p = q.lastProgress
        if (p != null) {
          if (q.name == "wm") {
            val wm = p.eventTime.get("watermark")
            if (wm != null) wmSamples += wm
          }
          if ((q.name == "st8" || q.name == "st3") && p.stateOperators.nonEmpty) {
            val so = p.stateOperators(0)
            val sst = Option(so.customMetrics.get("rocksdbSstFileSize"))
              .map(_.longValue()).getOrElse(0L)
            stateSamples += StateSample(elapsed, q.name, so.numRowsTotal,
              sst / 1048576.0)
          }
        }
        q.exception.foreach(e =>
          failures += s"query ${q.name} died: ${e.getMessage}")
      }
      StreamSnapshot.latestVersion(spark, snapPath)
        .foreach(versionSamples += _)
    }

    while (elapsed < durationSec && failures.isEmpty) {
      Thread.sleep(5000)
      sample()
      if (killsDone < killAt.length && elapsed >= killAt(killsDone)) {
        // LIMITATION (r10, per advisor): these "kills" are graceful
        // StreamingQuery.stop() calls — in-flight batches commit
        // cleanly before the restart, so the exactly-once/monotonicity
        // invariants below are exercised against clean restarts, NOT
        // against a crash that strands an uncommitted batch. A
        // crash-grade soak needs a forked JVM killed with SIGKILL
        // mid-batch; StreamSnapshotSpec's kill/restart-idempotence test
        // covers the uncommitted-batch replay path at smaller scale.
        queries.foreach(_.stop())
        killsDone += 1
        System.err.println(s"[soak] kill #$killsDone at ${elapsed}s — restarting")
        queries = startAll()
      }
    }
    sample()
    queries.foreach(_.stop())

    // ---- invariant 1: watermark monotonic across every restart ----
    val wmViolations = wmSamples.toSeq.sliding(2).collect {
      case Seq(a, b) if a > b => s"$a -> $b"
    }.toSeq
    if (wmViolations.nonEmpty)
      failures += s"watermark regressed: ${wmViolations.take(3).mkString(", ")}"
    if (wmSamples.distinct.size < 10)
      failures += s"watermark barely advanced: ${wmSamples.distinct.size} distinct samples"

    // ---- invariant 2: every key's alarms are an exact prefix of the
    // deterministic fold, and keys stay in rate-source lockstep ------
    val alarms = alarmBatches.entrySet().iterator()
    val all = new ArrayBuffer[(Long, DriftAlarm)]()
    while (alarms.hasNext) {
      val e = alarms.next()
      e.getValue.foreach(a => all += ((e.getKey, a)))
    }
    val byKey = all.groupBy(_._2.plant_type)
    val counts = byKey.view.mapValues(_.size).toMap
    if (byKey.size != nKeys8)
      failures += s"alarmed keys ${byKey.size} != $nKeys8"
    val maxCount = if (counts.nonEmpty) counts.values.max else 0
    val minCount = if (counts.nonEmpty) counts.values.min else 0
    if (maxCount - minCount > 2)
      failures += s"per-key alarm counts diverged: min $minCount max $maxCount (lockstep broken)"
    val expect = expectedAlarms(maxCount + 2)
    byKey.foreach { case (key, rows) =>
      val seq = rows.sortBy { case (bid, a) => (bid, a.ts.getTime) }
        .map { case (_, a) => (a.side, a.stat) }.toVector
      val want = expect.take(seq.length)
      if (seq != want) {
        val i = seq.zip(want).indexWhere { case (g, w) => g != w }
        failures += s"$key alarm seq diverges at #$i: got ${seq.lift(i)} want ${want.lift(i)}"
      }
    }
    if (maxCount < 4)
      failures += s"too few alarms to prove anything: max per key $maxCount"

    // ---- invariant 3: state rows exactly equal key cardinality and
    // SST footprint is flat after steady state ----------------------
    def lastRows(q: String): Long =
      stateSamples.reverseIterator.find(_.query == q).map(_.rows).getOrElse(-1L)
    if (lastRows("st8") != nKeys8.toLong)
      failures += s"st8 state rows ${lastRows("st8")} != $nKeys8"
    if (lastRows("st3") != nKeys3.toLong)
      failures += s"st3 state rows ${lastRows("st3")} != $nKeys3"
    val steadyCut = math.min(durationSec / 4, 600).toLong
    def sstTrend(q: String): (Double, Double) = {
      val post = stateSamples.filter(x => x.query == q && x.atSec >= steadyCut)
      if (post.isEmpty) (0.0, 0.0) else (post.head.sstMb, post.last.sstMb)
    }
    Seq("st8", "st3").foreach { q =>
      val (steady, fin) = sstTrend(q)
      if (fin > math.max(steady * 2, steady + 32))
        failures += f"$q SST grew $steady%.1f -> $fin%.1f MB after steady state"
    }

    // ---- invariant 4: snapshot versions only advance; final content
    // re-derives from event_id through the generator -----------------
    val vViolations = versionSamples.toSeq.sliding(2).collect {
      case Seq(a, b) if b < a => s"$a -> $b"
    }.toSeq
    if (vViolations.nonEmpty)
      failures += s"snapshot version regressed: ${vViolations.take(3).mkString(", ")}"
    val snap = StreamSnapshot.current(spark, snapPath)
      .select("event_type", "secs", "value", "event_id").collect()
    if (snap.length != nKeys24)
      failures += s"snapshot keys ${snap.length} != $nKeys24"
    snap.foreach { r =>
      val key = r.getString(0); val secs = r.getLong(1)
      val v = r.getDouble(2); val id = r.getLong(3)
      val keyIdx = key.stripPrefix("type_").toLong
      if (id % nKeys24 != keyIdx || secs != id / nKeys24 ||
          v != genVal(id / nKeys24))
        failures += s"snapshot row corrupt: $key secs=$secs value=$v event_id=$id"
    }

    val totalFlags = {
      var t = 0L
      val it = flagBatches.values().iterator()
      while (it.hasNext) t += it.next()
      t
    }
    if (totalFlags == 0) failures += "st3 never flagged an outlier"

    val sst8 = sstTrend("st8")
    println(f"""{"metric":"live_soak","duration_sec":$elapsed,""" +
      f""""kills":$killsDone,"alarm_keys":${byKey.size},""" +
      f""""alarms_total":${all.size},"alarms_per_key_min":$minCount,""" +
      f""""alarms_per_key_max":$maxCount,"st3_flags":$totalFlags,""" +
      f""""wm_samples":${wmSamples.size},"wm_distinct":${wmSamples.distinct.size},""" +
      f""""snapshot_versions_seen":${versionSamples.distinct.size},""" +
      f""""snapshot_last_version":${versionSamples.lastOption.getOrElse(-1L)},""" +
      f""""st8_state_rows":${lastRows("st8")},"st3_state_rows":${lastRows("st3")},""" +
      f""""st8_sst_steady_mb":${sst8._1}%.1f,"st8_sst_final_mb":${sst8._2}%.1f,""" +
      f""""failures":${failures.size},"provider":"rocksdb"}""")
    if (failures.nonEmpty) {
      failures.foreach(f => System.err.println(s"[soak] FAIL: $f"))
      spark.stop()
      sys.exit(1)
    }
    spark.stop()
  }

  /** genVal as a column over a long index — same branches, built from
    * codegen'd builtins (no UDF: the source-grep audit covers mains). */
  private def udfFreeGen(idx: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val base = DriftDetector.BaselineN
    when(idx >= base && (idx - base) % Period < DriftLen, DriftVal)
      .otherwise(when(idx % 2 === 0, 101.0).otherwise(99.0))
  }
}
