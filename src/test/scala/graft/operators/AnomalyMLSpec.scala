package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** SURVEY.md §2.C a1/a2 — distributed anomaly ops with statistical
  * self-oracles (flagged rows must live in the per-key tails). */
class AnomalyMLSpec extends SparkSpec {

  test("a1_isoforest flags only per-type tail values") {
    val flagged = AnomalyML.a1Isoforest(spark, sf).collect()
    assert(flagged.nonEmpty)
    // per-type 5/95 percentile fences from the raw table
    val fences = graft.Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(expr("percentile(value, 0.10)").as("lo"),
        expr("percentile(value, 0.90)").as("hi"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    flagged.foreach { r =>
      val (lo, hi) = fences(r.getString(1))
      val v = r.getDouble(2)
      assert(v < lo || v > hi,
        s"flagged $v for ${r.getString(1)} is inside [$lo,$hi]")
    }
  }

  test("a4_cusum fires on planted drift, stays silent on stationary series") {
    import spark.implicits._
    // drifting key: slow upward ramp (sustained small shift — the CUSUM
    // regime); stationary key: alternating ±1 (bounded deviations eaten
    // by the slack term)
    val n = 2000
    val rows =
      (0 until n).map(i => ("drift", i.toLong, i.toLong, i * 0.01)) ++
        (0 until n).map(i => ("flat", (n + i).toLong, i.toLong,
          if (i % 2 == 0) 1.0 else -1.0))
    val df = rows.toDF("k", "id", "secs", "v")
    val alarms = AnomalyML.cusum(df, col("k"), col("id"), col("secs"), col("v"))
      .collect()
    val byKey = alarms.groupBy(_.getString(1))
    assert(byKey.contains("drift"), "drift must raise CUSUM alarms")
    assert(!byKey.contains("flat"), s"stationary key must stay silent: ${byKey.get("flat")}")
    // the ramp drifts upward through its own global mean: early values
    // sit far below (down alarms), late values far above (up alarms)
    val sides = byKey("drift").map(_.getString(3)).toSet
    assert(sides == Set("up", "down"), s"sides $sides")
  }

  test("a4_cusum_drift on events is deterministic with in-band stats") {
    val a = AnomalyML.a4CusumDrift(spark, sf).collect()
    val b = AnomalyML.a4CusumDrift(spark, sf).collect()
    assert(a.toSeq == b.toSeq)
    // every alarm's normalized statistic must exceed the h=5σ threshold
    a.foreach(r => assert(r.getDouble(4) > 5.0))
  }

  test("cusumChunked is alarm-for-alarm equal to the sequential cusum twin") {
    import spark.implicits._
    // planted drift + stationary + a key with alarms near chunk
    // boundaries (state carried across chunks must be exact)
    val n = 2000
    val rows =
      (0 until n).map(i => ("drift", i.toLong, i.toLong, i * 0.01)) ++
        (0 until n).map(i => ("flat", (n + i).toLong, i.toLong,
          if (i % 2 == 0) 1.0 else -1.0)) ++
        (0 until n).map(i => ("waves", (2 * n + i).toLong, i.toLong,
          math.sin(i / 50.0) * 3.0 + (i % 3) * 0.1))
    val df = rows.toDF("k", "id", "secs", "v")
    val seqOut = AnomalyML.cusum(df, col("k"), col("id"), col("secs"), col("v"))
      .collect().toSeq
    val parOut = AnomalyML.cusumChunked(df, col("k"), col("id"), col("secs"),
        col("v"), ChunkScan.measure[Long](df, col("k"), col("secs")), chunks = 16)
      .collect().toSeq
    assert(parOut.nonEmpty)
    assert(parOut == seqOut, s"chunked=${parOut.size} seq=${seqOut.size}")
    // and on the real events table — the kernel called directly: at the
    // spec SF a4CusumDrift itself takes the sequential form
    val ev = graft.Tables.events(spark, sf)
    val a = AnomalyML.cusum(ev, col("event_type"),
      col("event_id"), col("ts"), col("value")).collect().toSeq
    val b = AnomalyML.cusumChunked(ev, col("event_type"), col("event_id"),
      col("ts"), col("value"),
      ChunkScan.measure[Long](ev, col("event_type"), col("ts").cast("long")))
      .collect().toSeq
    assert(a.nonEmpty)
    assert(a == b)
    assert(AnomalyML.a4CusumDrift(spark, sf).collect().toSeq == a)
  }

  test("a1 is deterministic across runs") {
    val x = AnomalyML.a1Isoforest(spark, sf).collect().toSeq
    val y = AnomalyML.a1Isoforest(spark, sf).collect().toSeq
    assert(x == y)
  }

  test("a2_ewma matches a driver-side recomputation for one user") {
    val rows = AnomalyML.a2Ewma(spark, sf)
      .filter(col("user_id") === 3).orderBy("event_id").collect()
    assert(rows.nonEmpty)
    val raw = graft.Tables.events(spark, sf)
      .filter(col("user_id") === 3)
      .select(col("event_id"), col("value"), col("ts").cast("long").as("secs"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      .sortBy(t => (t._3, t._1))
    // same discipline as AnomalyML.a2: resid against the pre-update
    // smoothed value, emit the post-update one
    var ew = raw.head._2
    val expect = raw.map { case (id, v, _) =>
      val resid = v - ew
      ew = 0.3 * v + 0.7 * ew
      (id, math.rint(ew * 1e6) / 1e6, math.rint(resid * 1e6) / 1e6)
    }.sortBy(_._1).toSeq
    val got = rows.map(r => (r.getLong(0), r.getDouble(3), r.getDouble(4))).toSeq
    assert(got == expect)
  }

  test("a5's props format contract: every events.props row is GenData's format and y is its digit run") {
    // a5 cuts y out by the offsets GenData.PropsFormat implies; a
    // generator change must fail here instead of silently nulling y
    val PropsRe = """^\{"k": \d+\}$"""
    assert(graft.GenData.PropsFormat.format(42).matches(PropsRe))
    val ev = graft.Tables.events(spark, sf).select(
      col("props"),
      AnomalyML.propsY.as("y"),
      regexp_extract(col("props"), "[0-9]+", 0).cast("double").as("ref"))
    assert(ev.count() > 0)
    assert(ev.filter(!col("props").rlike(PropsRe)).count() === 0,
      "events.props rows outside the {\"k\": %d} format")
    assert(ev.filter(col("y").isNull || col("y") =!= col("ref")).count() === 0,
      "a5's extracted y differs from the props digit run")
  }
}
