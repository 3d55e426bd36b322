package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.operators.{Dedup, EventOps, RangeJoin}

/** Twin-equivalence: st2/st5/st6 replay REAL testdata tables through
  * MemoryStream (real micro-batch execution, real state store) and the
  * completed stream output is asserted row-for-row equal to the batch
  * twin that CORRECTNESS checks against the DuckDB oracle (e2, d1, and
  * the e12 range-join machinery). This lifts the streaming surface from
  * self-oracle to oracle-grade by transitivity: stream == batch twin,
  * batch twin == DuckDB. (VERDICT r2 item 7.)
  */
class TwinEquivalenceSpec extends SparkSpec {

  test("st2 tumbling agg over a replayed events stream == e2 batch oracle rows") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    // the real events table, replayed in event-time order in 4 chunks
    // (contiguous chunks keep every row inside the 2-hour watermark)
    val ev = graft.Tables.events(spark, sf)
      .select($"ts", $"event_type", $"value")
      .orderBy("ts").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getDouble(2)))
    val in = MemoryStream[(Timestamp, String, Double)]
    val parsed = in.toDF().toDF("ts", "event_type", "value")
    val q = WindowAgg.tumbling(parsed, "ts", Seq("event_type"),
        Seq(count(lit(1)).as("n"),
          graft.functions.ExactStats.dsum(col("value")).as("sum_value")),
        watermark = "2 hours", window_ = "1 hour")
      .select(unix_timestamp(col("window.start")).as("h"),
        col("event_type"), col("n"), col("sum_value"))
      .writeStream.format("memory").queryName("twin_st2")
      .outputMode(OutputMode.Append).start()
    ev.grouped(ev.length / 4 + 1).foreach { chunk =>
      in.addData(chunk.toSeq); q.processAllAvailable()
    }
    // sentinel far past the last event advances the watermark beyond
    // every real window end, flushing them all from the state store
    in.addData((new Timestamp(ev.last._1.getTime + 12L * 3600 * 1000),
      "__flush", 0.0))
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("twin_st2")
      .filter($"event_type" =!= "__flush").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val batch = EventOps.e2Tumbling(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(batch.nonEmpty && streamed == batch,
      s"stream=${streamed.size} batch=${batch.size}")
  }

  test("st5 stream-dedup survivors == d1 batch oracle keepers") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    // replay the documents table so that micro-batch i carries the
    // (i+1)-th copy (by doc_id) of each duplicate group: batch 0 has
    // all-distinct digests (no same-batch tie to break) and every later
    // copy must be dropped by STATE carried from an earlier batch —
    // exactly the streaming behavior under test
    val docs = graft.Tables.documents(spark, sf)
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val waves = docs.groupBy(_._2).values.map(_.sortBy(_._1)).toSeq
    val maxCopies = waves.map(_.size).max
    val in = MemoryStream[(Long, String)]
    val frame = in.toDF().toDF("doc_id", "text")
      .withColumn("ts", lit(Timestamp.valueOf("2024-01-01 00:00:00")))
      .withColumn("h", md5(col("text")))
    val q = StreamDedup.byKeys(frame, Seq("h"), watermark = "10 minutes")
      .writeStream.format("memory").queryName("twin_st5")
      .outputMode(OutputMode.Append).start()
    for (i <- 0 until maxCopies) {
      in.addData(waves.flatMap(_.slice(i, i + 1)).map(d => (d._1, d._2)))
      q.processAllAvailable()
    }
    q.stop()
    val survivors = spark.table("twin_st5").collect()
      .map(r => (r.getAs[String]("h"), r.getAs[Long]("doc_id"))).toSet
    val keepers = Dedup.d1DedupExact(spark, sf).collect()
      .map(r => (r.getAs[String]("h"), r.getAs[Long]("keeper"))).toSet
    assert(keepers.nonEmpty && survivors == keepers,
      s"stream=${survivors.size} batch=${keepers.size}")
  }

  test("st6 interval stream join == bucketed range-join batch twin (e12 machinery)") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    // second-truncated event times on BOTH sides so the ±3600 s bound
    // tests identically (the batch twin works on epoch seconds)
    val ev = graft.Tables.events(spark, sf)
      .select($"event_id", $"user_id", $"ts".cast("long").as("secs"))
      .orderBy("secs").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val (lrows, rrows) = ev.partition(_._1 % 2 == 0)
    val inL = MemoryStream[(Long, Long, Timestamp)]
    val inR = MemoryStream[(Long, Long, Timestamp)]
    val left = inL.toDF().toDF("l_event_id", "user_id", "ts")
    val right = inR.toDF().toDF("r_event_id", "user_id", "r_ts")
    // watermark far wider than the corpus span: nothing is late-dropped
    // or evicted, so completed-stream output must be the full join
    val q = StreamJoin.withinInterval(left, right, "user_id",
        "ts", "r_ts", boundSeconds = 3600L, watermark = "60 days")
      .select(col("l_event_id"), col("r_event_id"))
      .writeStream.format("memory").queryName("twin_st6")
      .outputMode(OutputMode.Append).start()
    def t(s: Long) = new Timestamp(s * 1000L)
    lrows.grouped(lrows.length / 3 + 1).foreach { c =>
      inL.addData(c.map(e => (e._1, e._2, t(e._3)))); q.processAllAvailable()
    }
    rrows.grouped(rrows.length / 3 + 1).foreach { c =>
      inR.addData(c.map(e => (e._1, e._2, t(e._3)))); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("twin_st6").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val points = rrows.toSeq.toDF("r_event_id", "user_id", "secs")
    val intervals = lrows.toSeq.toDF("l_event_id", "user_id", "s")
      .withColumn("lo", col("s") - 3600L).withColumn("hi", col("s") + 3600L)
    val batch = RangeJoin.pointInInterval(points, intervals, key = "user_id",
        t = "secs", lo = "lo", hi = "hi", bucketWidth = 3600L)
      .select(col("l_event_id"), col("r_event_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty && streamed == batch,
      s"stream=${streamed.size} batch=${batch.size}")
  }

  test("st10 windowed HLL distinct over a replayed stream within 3x rsd of exact batch") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val ev = graft.Tables.events(spark, sf)
      .select($"ts", $"event_type", $"user_id")
      .orderBy("ts").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    val in = MemoryStream[(Timestamp, String, Long)]
    val parsed = in.toDF().toDF("ts", "event_type", "user_id")
    val q = WindowAgg.tumblingDistinct(parsed, "ts", "event_type", "user_id",
        watermark = "2 hours", window_ = "1 hour")
      .writeStream.format("memory").queryName("twin_st10")
      .outputMode(OutputMode.Append).start()
    ev.grouped(ev.length / 4 + 1).foreach { chunk =>
      in.addData(chunk.toSeq); q.processAllAvailable()
    }
    in.addData((new Timestamp(ev.last._1.getTime + 12L * 3600 * 1000),
      "__flush", 0L))
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("twin_st10")
      .filter($"event_type" =!= "__flush").collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    val exact = graft.Tables.events(spark, sf)
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(countDistinct($"user_id").as("n"))
      .select($"window.start", $"event_type", $"n").collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(exact.nonEmpty && streamed.keySet == exact.keySet,
      s"windows: stream ${streamed.size} vs exact ${exact.size}")
    streamed.foreach { case (k, est) =>
      val e = exact(k)
      assert(math.abs(est - e).toDouble / e <= 0.06, s"$k: est $est exact $e")
    }
  }

  test("st9 streaming forward-fill == e13 batch oracle rows") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    // the exact e13 input projection (null when the k prop <= 10),
    // replayed per-key in event-time order across 4 micro-batches
    val rows = graft.Tables.events(spark, sf)
      .select($"user_id", $"event_id", $"ts".cast("long").as("secs"),
        when(get_json_object($"props", "$.k").cast("int") > 10, $"value")
          .as("v"))
      .orderBy("secs", "event_id").collect()
      .map(r => GapRow(r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    val in = MemoryStream[GapRow]
    val q = ForwardFill.fill(in.toDS())
      .writeStream.format("memory").queryName("twin_st9")
      .outputMode(OutputMode.Append).start()
    rows.grouped(rows.length / 4 + 1).foreach { chunk =>
      in.addData(chunk.toSeq); q.processAllAvailable()
    }
    q.stop()
    def opt(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    val streamed = spark.table("twin_st9").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        opt(r, 3), opt(r, 4), r.getBoolean(5))).toSet
    val batch = graft.operators.EventOps.e13GapFill(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        opt(r, 3), opt(r, 4), r.getBoolean(5))).toSet
    assert(batch.exists(_._6), "corpus must exercise the fill path")
    assert(streamed == batch, s"stream=${streamed.size} batch=${batch.size}")
  }

  test("st12 streaming session windows == e4 batch sessionization on a replayed stream") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    // floor-second event times + the inclusive-boundary gap (1801 s ⟺
    // e4's `diff > 1800`, see SessionWindow.userSessions scaladoc) make
    // the streaming form bit-comparable to the batch twin
    val ev = graft.Tables.events(spark, sf)
      .select($"ts".cast("long").cast("timestamp").as("ts"),
        $"user_id", $"value")
      .orderBy("ts").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
    val in = MemoryStream[(Timestamp, Long, Double)]
    val parsed = in.toDF().toDF("ts", "user_id", "value")
    val q = SessionWindow.userSessions(parsed, gap = "1801 seconds")
      .writeStream.format("memory").queryName("twin_st12")
      .outputMode(OutputMode.Append).start()
    ev.grouped(ev.length / 4 + 1).foreach { chunk =>
      in.addData(chunk.toSeq); q.processAllAvailable()
    }
    // advance event time far past the last session + watermark so every
    // session closes and appends (the flush row forms its own session)
    in.addData((new Timestamp(ev.last._1.getTime + 200L * 24 * 3600 * 1000),
      -1L, 0.0))
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("twin_st12")
      .filter($"user_id" =!= -1L).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
        r.getLong(1), r.getDouble(4))).toSet
    // e4's session id is an arbitrary per-user ordinal; the session
    // CONTENT (key, first/last event second, n, exact sum) is the
    // engine-independent identity both forms must agree on
    val batch = EventOps.e4Sessionize(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4),
        r.getLong(2), r.getDouble(5))).toSet
    assert(batch.nonEmpty && streamed == batch,
      s"stream=${streamed.size} batch=${batch.size}")
  }

  test("st13 streaming EWMA == a2 batch scan, row for row, on a replayed stream") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val ev = graft.Tables.events(spark, sf)
      .select($"event_id", $"user_id", $"value", $"ts".cast("long").as("secs"))
      .orderBy("secs", "event_id").collect()
      .map(r => graft.operators.EventRow(r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getLong(3)))
    val in = MemoryStream[graft.operators.EventRow]
    val q = StreamEwma.smooth(in.toDS())
      .writeStream.format("memory").queryName("twin_st13")
      .outputMode(OutputMode.Append).start()
    // time-ordered chunks: sequential-state ops own intra-batch order,
    // the source owns cross-batch order (st8/st9 contract)
    ev.grouped(ev.length / 5 + 1).foreach { chunk =>
      in.addData(chunk.toSeq); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("twin_st13").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSet
    val batch = graft.operators.AnomalyML.a2Ewma(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSet
    assert(batch.nonEmpty && streamed == batch,
      s"stream=${streamed.size} batch=${batch.size}")
  }

  test("st18 streaming Holt == a6 batch scan, row for row, on a replayed stream") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val ev = graft.Tables.events(spark, sf)
      .select($"event_id", $"user_id", $"value", $"ts".cast("long").as("secs"))
      .orderBy("secs", "event_id").collect()
      .map(r => graft.operators.EventRow(r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getLong(3)))
    val in = MemoryStream[graft.operators.EventRow]
    val q = StreamHolt.smooth(in.toDS())
      .writeStream.format("memory").queryName("twin_st18")
      .outputMode(OutputMode.Append).start()
    ev.grouped(ev.length / 5 + 1).foreach { chunk =>
      in.addData(chunk.toSeq); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("twin_st18").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSet
    val batch = graft.operators.AnomalyML.a6Holt(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSet
    assert(batch.nonEmpty && streamed == batch,
      s"stream=${streamed.size} batch=${batch.size}")
  }

  test("st17 streaming drift == e18's full-window scan, row for row, on a replayed stream") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val ev = graft.Tables.events(spark, sf)
      .select($"event_type", $"event_id", $"ts".cast("long").as("secs"), $"value")
      .orderBy("secs", "event_id").collect()
      .map(r => KeyedEvent(r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val in = MemoryStream[KeyedEvent]
    val q = StreamDrift.detect(in.toDS(), w = 50)
      .writeStream.format("memory").queryName("twin_st17")
      .outputMode(OutputMode.Append).start()
    // 5 chunks: state carries windows across micro-batch boundaries
    ev.grouped(ev.length / 5 + 1).foreach { chunk =>
      in.addData(chunk.toSeq); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("twin_st17").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3))).toSet
    val batch = EventOps.driftScan(
        graft.Tables.events(spark, sf).select($"event_id", $"event_type",
          $"ts".cast("long").as("secs"), $"value"), 50)
      .select($"event_id", $"event_type", $"value", round($"shift", 6).as("shift"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(batch.nonEmpty && streamed == batch,
      s"stream=${streamed.size} batch=${batch.size}")
  }

  test("st11 streaming SpaceSaving top-k == exact token counts when capacity covers the vocab") {
    implicit val sc = spark.sqlContext
    implicit val s = spark
    import spark.implicits._
    val texts = graft.Tables.documents(spark, sf)
      .select("text").collect().map(_.getString(0))
    val in = MemoryStream[String]
    val tokens = in.toDS().flatMap(_.split(" ")).filter(_.nonEmpty)
    val q = StreamTopK.topK(tokens, groups = 8, capacity = 1024)
      .writeStream.format("memory").queryName("twin_st11")
      .outputMode(OutputMode.Update).start()
    texts.grouped(texts.length / 4 + 1).foreach { chunk =>
      in.addData(chunk.toSeq); q.processAllAvailable()
    }
    q.stop()
    // capacity ≥ vocabulary ⇒ no displacement: every emission is exact
    // (err = 0) and est is monotone, so latest-per-token = max = final
    val streamed = spark.table("twin_st11").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    assert(streamed.forall(_._3 == 0L))
    val finalEst = streamed.groupBy(_._1).map { case (t, rows) =>
      t -> rows.map(_._2).max }
    val exact = texts.flatMap(_.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).map { case (t, g) => t -> g.length.toLong }
    assert(finalEst == exact,
      s"tokens: stream ${finalEst.size} vs exact ${exact.size}")
  }

  test("st11 SpaceSaving bounds hold under displacement at tiny capacity") {
    // skewed synthetic stream through the pure update step, capacity 4
    // (vocab 10 ⇒ real evictions): SpaceSaving guarantees
    // true ≤ est ≤ true + err, and retains every hitter above N/m
    val stream = (1 to 400).flatMap { i =>
      Seq("hot1", "hot2") ++ (if (i % 4 == 0) Seq(s"cold${i % 8}") else Nil)
    }
    val exact = stream.groupBy(identity).map { case (t, g) => t -> g.length.toLong }
    var sk = Map.empty[String, (Long, Long)]
    stream.foreach { t => sk = StreamTopK.update(sk, t, capacity = 4) }
    assert(sk.size <= 4)
    sk.foreach { case (t, (est, err)) =>
      val truth = exact(t)
      assert(truth <= est && est <= truth + err, s"$t: $truth !in [$est-$err, $est]")
    }
    val threshold = stream.length / 4
    exact.filter(_._2 > threshold).keys.foreach { t =>
      assert(sk.contains(t), s"heavy hitter $t evicted")
    }
  }

  test("st14 streaming Mahalanobis catches a joint-only anomaly univariate z misses, and stays quiet on clean data") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    // correlated clean regime: y tracks x, residual sd 0.1
    val rng = new scala.util.Random(7L)
    def clean(id: Long) = {
      val x = rng.nextGaussian()
      VecReading("k", id, id, Array(x, x + 0.1 * rng.nextGaussian()))
    }
    val warm = (1L to 200L).map(clean)
    val tail = (201L to 400L).map(clean)
    // the joint anomaly: each axis ~2 sigma (univariate-quiet), but the
    // pair breaks the x~y correlation — off the ellipsoid entirely
    val joint = VecReading("k", 999L, 999L, Array(2.0, -2.0))
    val in = MemoryStream[VecReading]
    val q = StreamMahalanobis.detect(in.toDS(), warmup = 200)
      .writeStream.format("memory").queryName("twin_st14")
      .outputMode(OutputMode.Append).start()
    in.addData(warm); q.processAllAvailable()
    in.addData(tail :+ joint); q.processAllAvailable()
    q.stop()
    val flags = spark.table("twin_st14").collect()
      .map(r => r.getLong(1) -> (r.getDouble(3), r.getDouble(4))).toMap
    assert(flags.contains(999L), "joint anomaly must be flagged")
    val (d2, maxZ) = flags(999L)
    assert(d2 > 12.0 && maxZ < 3.0,
      s"d2=$d2 maxZ=$maxZ — must be multivariate-loud but univariate-quiet")
    // clean tail stays mostly quiet (chi2 tail at 12 is ~0.25%)
    assert(flags.size - 1 <= 5, s"${flags.size - 1} false flags on clean data")
  }

  test("st15 stream-static decontamination == d6 batch audit on a replayed test split") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    // the same hash split d6 binds: doc bucket 0 of 10 is the test side
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$id:contam".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % 10L
    }
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val (test, train) = docs.partition(d => bucket(d._1) == 0)
    val trainSh = graft.operators.Shingles
      .index(train.toSeq.toDF("doc_id", "text"), 8).select("g").distinct()
    val in = MemoryStream[(Long, String)]
    val q = StreamContamination.probe(in.toDF().toDF("doc_id", "text"), trainSh)
      .writeStream.format("memory").queryName("twin_st15")
      .outputMode(OutputMode.Update).start()
    test.grouped(test.length / 3 + 1).foreach { chunk =>
      in.addData(chunk.toSeq); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("twin_st15").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = graft.operators.Dedup.d6Contamination(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(batch.nonEmpty && streamed == batch,
      s"stream=${streamed.size} batch=${batch.size}")
  }

  test("st16 stream-static span screen == d10 batch audit on the replayed corpus") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // static side: the corpus's duplicated-block index, built batch-side
    val dup = graft.operators.Dedup.dupBlocks(docs.toSeq.toDF("doc_id", "text"))
      .localCheckpoint(true)
    val in = MemoryStream[(Long, String)]
    val q = StreamSpanScreen.probe(in.toDF().toDF("doc_id", "text"), dup)
      .writeStream.format("memory").queryName("twin_st16")
      .outputMode(OutputMode.Update).start()
    docs.grouped(docs.length / 3 + 1).foreach { chunk =>
      in.addData(chunk.toSeq); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("twin_st16").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = graft.operators.Dedup.d10BlockDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(batch.nonEmpty && streamed == batch,
      s"stream=${streamed.size} batch=${batch.size}")
  }

  test("st19 streaming quality gate == t2 batch scoring + filter on the replayed corpus") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text", "n_chars")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val in = MemoryStream[(Long, String, Long)]
    val q = StreamQuality.screen(in.toDF().toDF("doc_id", "text", "n_chars"))
      .writeStream.format("memory").queryName("twin_st19")
      .outputMode(OutputMode.Append).start()
    docs.grouped(docs.length / 3 + 1).foreach { chunk =>
      in.addData(chunk.toSeq); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("twin_st19").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSet
    // batch twin: the oracle-checked t2 rows above the same floor
    val batch = graft.operators.TextOps.t2Quality(spark, sf)
      .filter($"quality" >= 3.0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSet
    assert(batch.nonEmpty && streamed == batch,
      s"stream=${streamed.size} batch=${batch.size}")
    // the gate actually screens: some docs admitted, some rejected
    val total = docs.length
    assert(streamed.size < total && streamed.nonEmpty,
      s"degenerate gate: ${streamed.size} of $total admitted")
  }

  test("st22 streaming split router == i2 batch assignment on the replayed corpus") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val ids = graft.Tables.documents(spark, sf).select("doc_id")
      .collect().map(_.getLong(0))
    val in = MemoryStream[Long]
    val q = StreamSplit.route(in.toDF().toDF("doc_id"))
      .writeStream.format("memory").queryName("twin_st22")
      .outputMode(OutputMode.Append).start()
    ids.grouped(ids.length / 3 + 1).foreach { chunk =>
      in.addData(chunk.toSeq); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("twin_st22").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val batch = graft.operators.Sampling.i2SplitAssign(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(batch.nonEmpty && streamed == batch,
      s"stream=${streamed.size} batch=${batch.size}")
    // replay determinism: re-streaming the same ids re-derives the
    // identical assignment (the property rand() routing lacks)
    val splits = streamed.groupBy(_._3).view.mapValues(_.size).toMap
    assert(splits.keySet.subsetOf(Set("train", "val", "test")))
    assert(splits("train") > splits.getOrElse("val", 0))
  }

  test("st23 streaming stratified admission == i1 batch sample on the replayed corpus") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "lang", "source")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val in = MemoryStream[(Long, String, String)]
    val q = StreamSample.admit(in.toDF().toDF("doc_id", "lang", "source"))
      .writeStream.format("memory").queryName("twin_st23")
      .outputMode(OutputMode.Append).start()
    docs.grouped(docs.length / 3 + 1).foreach { chunk =>
      in.addData(chunk.toSeq); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("twin_st23").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val batch = graft.operators.Sampling.i1StratifiedSample(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(batch.nonEmpty && streamed == batch,
      s"stream=${streamed.size} batch=${batch.size}")
    // the gate actually downsamples
    assert(streamed.size < docs.length)
  }

  test("fromKafka's downstream path: binary value frame -> parse (MemoryStream passthrough)") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    // Kafka's source emits binary `value`; valueFrame is the cast step
    // fromKafka applies after .load() — drive it with MemoryStream
    val in = MemoryStream[Array[Byte]]
    val q = Ingest.parseTelemetry(Ingest.valueFrame(in.toDF()))
      .writeStream.format("memory").queryName("twin_kafka")
      .outputMode(OutputMode.Append).start()
    in.addData(
      """{"timestamp":"2024-01-01 00:00:01","plant_type":"solar","region":"north","power_output":120.5,"demand":99.0,"grid_frequency":50.01,"solar_radiation":700.0,"panel_temperature":35.5}"""
        .getBytes("UTF-8"),
      "garbage".getBytes("UTF-8"))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("twin_kafka").collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[String]("plant_type") == "solar")
    assert(rows(0).getAs[Double]("solar_radiation") == 700.0)
  }
}
