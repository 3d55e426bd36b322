package graftbench

import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.ml.GraftIsolationForest
import graft.streaming.{Flagged, Generator, Ingest, Pipeline, RateControl, SlidingDetector}

/** One committed micro-batch as `StreamingQuery.recentProgress` reports
  * it. `(startOff, endOff]` are the MemoryStream chunk offsets it read. */
final case class MicroBatch(id: Long, startOff: Long, endOff: Long, rows: Long,
    commitMs: Long, durations: Map[String, Long], stateRows: Long,
    stateMem: Long, stateUpdateMs: Long, stateCommitMs: Long) {
  def trigMs: Long = durations.getOrElse("triggerExecution", 0L)
}

/** `stream_live`: the reference's live loop, then a backfill through the
  * same pipeline. Both run the shipped `Pipeline.detect` (Ingest →
  * SlidingDetector) into the memory sink under `RateControl.Reference` (no
  * trigger interval: a micro-batch starts as soon as the previous one
  * commits).
  *  - Live, open loop: one generator thread offers pre-serialized chunks
  *    on a wall-clock schedule; small self-clocked micro-batches, so the
  *    per-batch fixed cost sets the latency.
  *  - Backfill, closed loop: a fixed backlog drains through a fresh query
  *    in fixed-size micro-batches, each offered after the previous one
  *    commits; per-row cost sets the throughput, and the flags repeat
  *    exactly for a seed. */
object Streams {
  import Stats._

  /** Generator epoch and period (ms): a flag's `ts` maps back to `seq`. */
  private val EpochMs = 1704067200000L
  private val PeriodMs = 125L

  /** `--seed` offsets the generator's `value` range, so every seed sees a
    * different stretch of the same synthetic plant telemetry. */
  def base(seed: Long): Long = java.lang.Math.floorMod(seed, 1000003L) * 100000L

  /** Serialized records `[base, base + n)` and their ground-truth flags,
    * made by the program's own generator and Kafka-value serializer. */
  def inputs(s: SparkSession, b: Long, n: Long): (Array[String], Array[Boolean]) = {
    val tele = Generator.telemetry(s.range(b, b + n, 1, s.sparkContext.defaultParallelism)
      .toDF("value"))
    (Pipeline.toKafkaValue(tele).as(Encoders.STRING).collect(),
      tele.select(col("is_anomaly")).as(Encoders.scalaBoolean).collect())
  }

  /** A MemoryStream with one partition per core, like a topic read by
    * one consumer task per core. */
  def source(s: SparkSession): MemoryStream[String] =
    MemoryStream[String](s, s.sparkContext.defaultParallelism)(Encoders.STRING)

  def start(s: SparkSession, in: MemoryStream[String], name: String): StreamingQuery =
    Pipeline.startControlled(Pipeline.detect(in.toDF())(s), name, RateControl.Reference)

  /** The cold call: the first rows of a query in two micro-batches, so
    * both the empty-state path and the fit-and-score path run once. */
  def warmUp(in: MemoryStream[String], q: StreamingQuery, rows: Array[String]): Unit =
    rows.grouped((rows.length + 1) / 2).foreach { w => in.addData(w.toSeq); q.processAllAvailable() }

  def batches(q: StreamingQuery): Seq[MicroBatch] =
    q.recentProgress.toSeq
      .filter(p => p.numInputRows > 0 && p.durationMs.containsKey("triggerExecution"))
      .map(toBatch).groupBy(_.id).values.map(_.head).toSeq.sortBy(_.id)

  def toBatch(p: StreamingQueryProgress): MicroBatch = {
    val src = p.sources.head
    def off(s: String): Long = if (s == null || s == "null") -1L else s.trim.toLong
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val st = p.stateOperators.headOption
    MicroBatch(p.batchId, off(src.startOffset), off(src.endOffset), p.numInputRows,
      Instant.parse(p.timestamp).toEpochMilli + d.getOrElse("triggerExecution", 0L), d,
      st.map(_.numRowsTotal).getOrElse(0L), st.map(_.memoryUsedBytes).getOrElse(0L),
      st.map(_.allUpdatesTimeMs).getOrElse(0L), st.map(_.commitTimeMs).getOrElse(0L))
  }

  def flags(s: SparkSession, name: String): Array[Flagged] = {
    import s.implicits._
    s.table(name).as[Flagged].collect()
  }

  def seqOf(f: Flagged): Long = (f.ts.getTime - EpochMs) / PeriodMs

  /** Flags driven by the rolling z-score only. |z| is a per-row statistic
    * of the window before the row, so batch boundaries cannot change it. */
  def zFlags(fs: Seq[Flagged]): Set[(Long, String, Double)] =
    fs.filter(f => math.abs(f.zscore) > SlidingDetector.ZThresh)
      .map(f => (f.ts.getTime, f.plant_type, f.zscore)).toSet

  /** `Pipeline.detect` over the same serialized rows as one batch frame. */
  def batchTwin(s: SparkSession, values: Seq[String]): Array[Flagged] = {
    import s.implicits._
    Pipeline.detect(values.toDF("value"))(s).collect()
  }

  /** Shared stream checks: no row flagged twice, and the z-score flags
    * equal those of the batch twin over the same rows. */
  def checkFlags(c: Ctx, fs: Seq[Flagged], values: Seq[String], what: String): Unit = {
    c.check(fs.map(f => (f.plant_type, f.ts.getTime)).distinct.size == fs.size,
      s"$what: a row was flagged twice")
    c.span("twin", what) {
      val twin = batchTwin(c.spark, values)
      val (a, b) = (zFlags(fs), zFlags(twin.toSeq))
      c.check(a == b, s"$what: z-score flags differ from the batch twin " +
        s"(${a.size} stream, ${b.size} batch, ${(a diff b).size} only in stream)")
    }
  }

  def sameFlags(a: Array[Flagged], b: Array[Flagged]): Boolean = {
    def key(f: Flagged) = (f.ts.getTime, f.plant_type)
    a.sortBy(key).toSeq == b.sortBy(key).toSeq
  }

  def precisionRecall(fs: Seq[Flagged], truth: Array[Boolean], b: Long,
      from: Int, until: Int): (Double, Double) = {
    val idx = fs.map(f => (seqOf(f) - b).toInt).filter(i => i >= from && i < until)
    val tp = idx.count(truth(_))
    val pos = (from until until).count(truth(_))
    (if (idx.isEmpty) 0.0 else tp.toDouble / idx.size,
      if (pos == 0) 0.0 else tp.toDouble / pos)
  }

  // ---------------------------------------------------------------- live

  final case class Segment(firstOff: Long, from: Int, chunkRows: Int,
      dueMs: Array[Long], offerMs: Array[Long]) {
    def n: Int = dueMs.length
    def until: Int = from + n * chunkRows
  }

  /** Offer `n` chunks from one generator thread on a fixed wall-clock
    * schedule, each stamped with its due time; then wait until every
    * offered row is committed. The schedule never waits for the stream. */
  def openLoop(c: Ctx, in: MemoryStream[String], q: StreamingQuery,
      values: Array[String], from: Int, firstOff: Long, n: Int, chunkRows: Int,
      chunkMs: Int): Segment = {
    val due = new Array[Long](n)
    val offered = new Array[Long](n)
    @volatile var err: Throwable = null
    val gen = new Thread(() => {
      try {
        val t0Ms = System.currentTimeMillis() + 20
        val t0Ns = System.nanoTime() + 20000000L
        var k = 0
        while (k < n) {
          due(k) = t0Ms + k.toLong * chunkMs
          val wait = t0Ns + k.toLong * chunkMs * 1000000L - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          val chunk = values.slice(from + k * chunkRows, from + (k + 1) * chunkRows).toSeq
          c.span("addData", (firstOff + k).toString) { in.addData(chunk) }
          offered(k) = System.currentTimeMillis()
          k += 1
        }
      } catch { case t: Throwable => err = t }
    }, "bench-generator")
    gen.start()
    gen.join()
    if (err != null) c.fail(s"generator: $err")
    q.processAllAvailable()
    Segment(firstOff, from, chunkRows, due, offered)
  }

  final case class LiveStats(batches: Seq[MicroBatch], latencyMs: Seq[Double],
      backlog: Seq[Long])

  def liveStats(c: Ctx, q: StreamingQuery, seg: Segment): LiveStats = {
    val bs = batches(q).filter(b => b.endOff >= seg.firstOff &&
      b.startOff < seg.firstOff + seg.n - 1)
    val lat = (0 until seg.n).flatMap { k =>
      val off = seg.firstOff + k
      bs.find(b => off > b.startOff && off <= b.endOff) match {
        case Some(b) => Some((b.commitMs - seg.dueMs(k)).toDouble)
        case None => c.fail(s"chunk $off was never committed"); None
      }
    }
    c.check(bs.map(_.rows).sum == seg.n.toLong * seg.chunkRows,
      s"committed ${bs.map(_.rows).sum} rows, offered ${seg.n.toLong * seg.chunkRows}")
    var done = 0L
    val backlog = bs.sortBy(_.commitMs).map { b =>
      done += b.rows
      seg.offerMs.count(_ <= b.commitMs).toLong * seg.chunkRows - done
    }
    LiveStats(bs, lat, backlog)
  }

  def live(c: Ctx): Unit = {
    val rate = c.int("rate")
    val chunkMs = c.int("chunk-ms")
    val warm = c.int("warmup-rows")
    val batchRows = c.int("batch-rows")
    val chunkRows = rate * chunkMs / 1000
    val n = c.seconds * 1000 / chunkMs
    val liveRows = warm + (if (c.traced) 2 else 1) * n * chunkRows
    val s = c.session()
    val b = base(c.seed)
    val ((values, truth), inS) = c.time(
      inputs(s, b, liveRows.toLong + c.int("batches").toLong * batchRows))
    c.setup("inputs_s") = inS
    val backlog = values.drop(liveRows)
    val in = source(s)
    val (q, coldS) = c.time(c.span("cold", "pipeline") {
      val q = start(s, in, "live")
      warmUp(in, q, values.take(warm))
      q
    })
    c.setup("cold_s") = coldS
    c.tracing = false
    val seg = openLoop(c, in, q, values, warm, 2, n, chunkRows, chunkMs)
    c.attempted += n
    val st = liveStats(c, q, seg)
    liveE2E(c, st, seg, flags(s, "live"), truth, b)
    // the backfill: the same pipeline draining a fixed backlog, several
    // times from fresh state; the flags must repeat exactly
    val drains = (0 until c.int("drains")).map(i => drain(c, s, backlog, batchRows, s"backlog$i"))
    val d = drains.head
    drains.tail.foreach(x => c.check(sameFlags(x.flags, d.flags),
      "backlog flags differ between drains of the same backlog"))
    c.e2e("rows_per_s") = median(drains.map(backlog.length / _.seconds))
    checkFlags(c, d.flags.toSeq, backlog.toSeq, "backlog")
    val last = if (!c.traced) seg else {
      val (seg2, _) = Tracing.traced(c) {
        openLoop(c, in, q, values, seg.until, 2 + n, n, chunkRows, chunkMs)
      }
      c.attempted += n
      val st2 = liveStats(c, q, seg2)
      streamLayers(c, st2.batches, st2.backlog, flags(s, "live").count(f =>
        { val i = seqOf(f) - b; i >= seg2.from && i < seg2.until }), b, seg2.from,
        seg2.until, seg2.from.toLong, values)
      c.layers("generator.lag_ms_p99") = pct(seg2.dueMs.indices.map(k =>
        (seg2.offerMs(k) - seg2.dueMs(k)).toDouble), 0.99)
      c.layers("generator.rows_offered") = seg2.n.toDouble * chunkRows
      c.layers("trace.overhead_ratio") = pct(st2.latencyMs, 0.5) / pct(st.latencyMs, 0.5)
      seg2
    }
    checkFlags(c, flags(s, "live").toSeq, values.take(last.until).toSeq, "live")
    q.stop()
    if (c.traced) baseline(c, values.take(warm), backlog, batchRows, d)
  }

  /** The single-thread baseline: the same backlog drained at local[1]. */
  def baseline(c: Ctx, warmup: Array[String], backlog: Array[String], batchRows: Int,
      ref: Drain): Unit = {
    c.spark.stop()
    val s1 = c.session(1)
    val in = source(s1)
    val q = start(s1, in, "warm1")
    warmUp(in, q, warmup)
    q.stop()
    val d1 = drain(c, s1, backlog, batchRows, "backlog1")
    c.check(sameFlags(d1.flags, ref.flags), "local[1] backlog flags differ from local[nproc]")
    c.layers("backfill.rows_per_s_1core") = backlog.length / d1.seconds
    c.layers("backfill.parallel_speedup") = d1.seconds / ref.seconds
  }

  def liveE2E(c: Ctx, st: LiveStats, seg: Segment, fs: Seq[Flagged],
      truth: Array[Boolean], b: Long): Unit = {
    val (p, r) = precisionRecall(fs, truth, b, seg.from, seg.until)
    c.e2e("latency_p50_ms") = pct(st.latencyMs, 0.5)
    c.e2e("latency_p90_ms") = pct(st.latencyMs, 0.9)
    c.e2e("sweep_s") = median(st.batches.map(_.trigMs.toDouble)) / 1000.0
    c.e2e("precision") = p
    c.e2e("recall") = r
    c.info("stream.batches") = st.batches.size.toDouble
    // A backlog still growing at the end: the last third of commits
    // waits on clearly more rows than the first third did.
    val k = math.max(1, st.backlog.size / 3)
    val (first, last) = (st.backlog.take(k), st.backlog.takeRight(k))
    val perBatch = median(st.batches.map(_.rows.toDouble))
    c.check(last.sum.toDouble / k <= 2.0 * first.sum / k + perBatch,
      s"backlog still growing: ${first.mkString(",")} -> ${last.mkString(",")}")
  }

  // ------------------------------------------------------------- backlog

  final case class Drain(seconds: Double, flags: Array[Flagged])

  /** Drain the fixed backlog through a fresh query in `batchRows`-row
    * micro-batches; each batch is offered only after the previous one
    * has committed, so batch composition, and the flags, repeat exactly. */
  def drain(c: Ctx, s: SparkSession, backlog: Array[String], batchRows: Int,
      name: String): Drain = {
    val in = source(s)
    val q = start(s, in, name)
    try {
      val (_, dt) = c.time {
        backlog.grouped(batchRows).zipWithIndex.foreach { case (chunk, i) =>
          c.span("addData", s"$name.$i") { in.addData(chunk.toSeq) }
          q.processAllAvailable()
        }
      }
      val bs = batches(q)
      val nb = (backlog.length + batchRows - 1) / batchRows
      c.attempted += nb
      c.check(bs.size == nb && bs.forall(_.rows == batchRows) &&
        bs.map(_.rows).sum == backlog.length,
        s"$name: batches ${bs.map(_.rows).mkString(",")} != $nb x $batchRows")
      Drain(dt, flags(s, name))
    } finally {
      q.stop()
      s.catalog.dropTempView(name)
    }
  }

  // -------------------------------------------------------- layer metrics

  /** Micro-batch, state, detector, ingest and exchange metrics of a traced
  * stream segment, plus the standalone ingest and detector probes. */
  def streamLayers(c: Ctx, bs: Seq[MicroBatch], backlog: Seq[Long],
      nFlags: Int, b: Long, from: Int, until: Int, priorRows: Long,
      values: Array[String]): Unit = {
    def p50(f: MicroBatch => Long) = median(bs.map(x => f(x).toDouble))
    val L = c.layers
    L("stream.batches") = bs.size
    L("stream.rows_per_batch_p50") = p50(_.rows)
    L("stream.trigger_ms_p50") = p50(_.trigMs)
    L("stream.trigger_ms_p90") = pct(bs.map(_.trigMs.toDouble), 0.9)
    L("stream.planning_ms_p50") = p50(_.durations.getOrElse("queryPlanning", 0L))
    L("stream.add_batch_ms_p50") = p50(_.durations.getOrElse("addBatch", 0L))
    L("stream.wal_commit_ms_p50") = p50(_.durations.getOrElse("walCommit", 0L))
    L("stream.commit_offsets_ms_p50") = p50(_.durations.getOrElse("commitOffsets", 0L))
    L("stream.backlog_rows_max") = if (backlog.isEmpty) 0.0 else backlog.max.toDouble
    L("state.rows") = bs.lastOption.map(_.stateRows).getOrElse(0L).toDouble
    L("state.mem_bytes") = bs.lastOption.map(_.stateMem).getOrElse(0L).toDouble
    L("state.update_ms_p50") = p50(_.stateUpdateMs)
    L("state.commit_ms_p50") = p50(_.stateCommitMs)
    L("detector.flags") = nFlags
    // One IsolationForest fit per key with data in a batch whose window
    // already held MinTrain rows; the key of row i is value % 4.
    val seen = Array.fill(4)(priorRows / 4)
    var fits = 0L
    var start = from
    bs.sortBy(_.id).foreach { mb =>
      val counts = Array.fill(4)(0L)
      (start until start + mb.rows.toInt).foreach(i => counts(((b + i) % 4).toInt) += 1)
      start += mb.rows.toInt
      (0 until 4).foreach { k =>
        if (counts(k) > 0 && math.min(seen(k), SlidingDetector.WindowCap.toLong) >=
          SlidingDetector.MinTrain) fits += 1
        seen(k) += counts(k)
      }
    }
    L("detector.fits") = fits.toDouble
    c.tracing = true
    probes(c, values.slice(from, until))
    c.tracing = false
  }

  /** Layer probes: a timed batch call of `Ingest.parseTelemetry` over the
    * run's JSON, and a timed fit and score of the detector's forest on a
    * full 500 × 4 window. */
  def probes(c: Ctx, json: Array[String]): Unit = {
    val s = c.spark
    import s.implicits._
    val raw = json.toSeq.toDF("value").cache()
    raw.count()
    val parsed = Ingest.parseTelemetry(raw)
    val valid = c.span("probe", "ingest.count") { parsed.count() }
    val ns = (1 to 3).map { i =>
      c.time(c.span("probe", s"ingest.$i") {
        parsed.write.format("noop").mode("overwrite").save()
      })._2 * 1e9 / json.length
    }
    raw.unpersist()
    c.layers("ingest.rows_in") = json.length
    c.layers("ingest.rows_valid") = valid
    c.layers("ingest.valid_ratio") = valid.toDouble / json.length
    c.layers("ingest.ns_per_row") = median(ns)
    val win = parsed.filter(col("plant_type") === "wind")
      .select("power_output", "demand", "wind_speed", "turbine_efficiency")
      .limit(SlidingDetector.WindowCap).collect()
      .map(r => Array(r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    val fitMs = (1 to 5).map { i =>
      c.time(c.span("probe", s"fit.$i") {
        GraftIsolationForest.fit(win, numTrees = 50, sampleSize = 128, seed = 42L + i)
      })._2 * 1000
    }
    val forest = GraftIsolationForest.fit(win, numTrees = 50, sampleSize = 128, seed = 42L)
    val reps = 20
    val (_, scoreS) = c.time(c.span("probe", "score") {
      var acc = 0.0
      (1 to reps).foreach(_ => win.foreach(v => acc += forest.score(v)))
      acc
    })
    c.layers("detector.fit_ms") = median(fitMs)
    c.layers("detector.score_ns") = scoreS * 1e9 / (reps * win.length)
  }
}
