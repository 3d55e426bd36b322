package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The chunk-parallel scan kernels (e18 driftScanChunked, q13Chunked,
  * a4 cusumChunked) exist to fix LOW key cardinality — their driver-side
  * stitch grids are |keys|×cells count cells, bounded only while
  * |keys| is small. Past [[ChunkScan.MaxGridCells]] the dispatchers
  * take the per-key window/sequential form instead (which at that
  * cardinality has no parallelism wall to fix, and whose driver
  * footprint is zero). These specs plant a synthetic high-cardinality
  * key column, assert the policy rejects the chunked kernel for it, and
  * assert the kernel — called directly, with a forced-chunked plan
  * fingerprint so the check can't go vacuously green — is bit-identical
  * to the per-key form the dispatcher takes. */
class CardinalityGuardSpec extends SparkSpec {

  import spark.implicits._

  private def plan(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  // ---- e18 driftScanChunked -------------------------------------

  /** 2000 keys × 12 rows: 2000 × 4096 cells busts the grid cap. */
  private lazy val manyKeyEvents = spark.range(24000)
    .select(col("id").as("event_id"),
      concat(lit("k"), pmod(col("id"), lit(2000))).as("event_type"),
      (col("id") * 7 % 997).as("secs"),
      ((col("id") * 31 % 211).cast("double") / 10).as("value"))

  test("past the grid cap e18 takes driftScan; driftScanChunked equals it bit-for-bit") {
    val b = ChunkScan.measure[Long](manyKeyEvents, col("event_type"), col("secs"))
    assert(!ChunkScan.fitsGrid(b.keys, 4096), s"${b.keys} keys fit the grid")
    assert(!ChunkScan.chunked(b.rows, b.keys, 4096))
    // control: the kernel called directly plans the chunked machinery
    val forced = EventOps.driftScanChunked(manyKeyEvents, w = 2, b,
      fineBuckets = 13, chunkRows = 8)
    assert(plan(forced).contains("MapPartitions"),
      "control should have planned the chunked form")
    // and it is bit-identical to the per-key window form
    def rows(df: DataFrame) = df
      .select("event_id", "event_type", "sb", "sa", "shift").collect()
      .map(r => (r.getLong(0), r.getString(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)),
        java.lang.Double.doubleToRawLongBits(r.getDouble(4))))
      .sortBy(r => (r._2, r._1))
    val window = rows(EventOps.driftScan(manyKeyEvents, 2))
    assert(window.nonEmpty)
    assert(rows(forced).sameElements(window))
  }

  // ---- q13 suite -------------------------------------------------

  /** 500k rows (over the chunk threshold) in 2000 groups: 2000×4096
    * cells busts the default 4M grid cap → window form. */
  private lazy val manyGroupLi = spark.range(500000)
    .select(col("id").as("l_orderkey"), lit(1).as("l_linenumber"),
      concat(lit("f"), pmod(col("id"), lit(2000))).as("l_returnflag"),
      ((col("id") * 37 % 10007).cast("double") / 100).as("l_extendedprice"))

  test("q13Suite falls back to the window form past the grid cap") {
    val guarded = Analytics.q13Suite(manyGroupLi)
    assert(plan(guarded).contains("ntile"),
      "guard should have selected the window form (ntile window)")
    // control: 3 groups on the same rows → chunked form (no ntile)
    val fewGroups = manyGroupLi.withColumn("l_returnflag",
      concat(lit("f"), pmod(col("l_orderkey"), lit(3))))
    assert(!plan(Analytics.q13Suite(fewGroups)).contains("ntile"),
      "control should have selected the chunked form")
  }

  // ---- a4 cusumChunked -------------------------------------------

  /** 300 keys × 20 rows. Past the grid cap (2^18 keys at 16 chunks —
    * pinned in ChunkScanSpec) a4 runs the sequential cusum with its
    * stats join unhinted; this frame checks that form and the kernel
    * against the broadcast-hinted sequential scan. */
  private lazy val manyKeyCusum = spark.range(6000)
    .select(col("id").as("event_id"),
      concat(lit("k"), pmod(col("id"), lit(300))).as("key"),
      (col("id") * 13 % 797).as("secs"),
      ((col("id") * 17 % 89).cast("double")
        + when(col("id") % 300 === 7 && col("id") > 3000, 500.0)
          .otherwise(0.0)).as("value"))

  private def alarms(df: DataFrame) = df
    .select("event_id", "key", "side", "stat").collect()
    .map(r => (r.getLong(0), r.getString(1), r.getString(2),
      java.lang.Double.doubleToRawLongBits(r.getDouble(3))))
    .sortBy(r => (r._1, r._3))

  test("past the grid cap a4 takes the unhinted cusum; cusumChunked equals it alarm-for-alarm") {
    val unhinted = AnomalyML.cusum(manyKeyCusum, col("key"),
      col("event_id"), col("secs"), col("value"), slackK = 0.1,
      alarmH = 1.0, hintBroadcastStats = false)
    assert(!plan(unhinted).contains("chunk"))
    // the chunked path localCheckpoints its result (LogicalRDD hides
    // the plan) — build the control with materialization off so the
    // plan fingerprint is real (Exec.Key exists for exactly this)
    spark.conf.set(graft.Exec.Key, "false")
    val forced =
      try AnomalyML.cusumChunked(manyKeyCusum, col("key"),
        col("event_id"), col("secs"), col("value"),
        ChunkScan.measure[Long](manyKeyCusum, col("key"), col("secs")),
        slackK = 0.1, alarmH = 1.0, chunks = 4)
      finally spark.conf.set(graft.Exec.Key, "true")
    assert(plan(forced).contains("chunk"),
      "control should have planned the chunked form")
    val seq = alarms(AnomalyML.cusum(manyKeyCusum, col("key"),
      col("event_id"), col("secs"), col("value"), slackK = 0.1,
      alarmH = 1.0))
    assert(seq.nonEmpty, "planted shift should alarm")
    assert(alarms(unhinted).sameElements(seq))
    assert(alarms(forced).sameElements(seq))
  }

  test("cusumChunked on an empty frame returns empty instead of throwing") {
    val empty = manyKeyCusum.filter(lit(false))
    val b = ChunkScan.measure[Long](empty, col("key"), col("secs"))
    // the policy sends empty input to the per-key form; the kernel,
    // called directly, still returns empty
    assert(b.rows == 0 && !ChunkScan.chunked(b.rows, b.keys, 16))
    val out = AnomalyML.cusumChunked(empty, col("key"), col("event_id"),
      col("secs"), col("value"), b)
    assert(out.collect().isEmpty)
  }
}
