package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** [[EventOps.driftScanChunked]] must be BIT-IDENTICAL to
  * [[EventOps.driftScan]] — same rows, same doubles to the last bit —
  * since e18's oracle and the st17 twin are stated against the window
  * form. Tiny chunk/bucket settings force every piece of the chunked
  * machinery (multi-bucket ranks, halo copies on both sides, global
  * edge trimming) that the defaults would leave idle at test scale. */
class ChunkedScanSpec extends SparkSpec {

  private def ev = Tables.events(spark, sf)
    .select(col("event_id"), col("event_type"),
      col("ts").cast("long").as("secs"), col("value"))

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("event_id", "event_type", "value", "nb", "na", "sb", "sa",
        "shift")
      .collect()
      .map { r =>
        (r.getLong(0), r.getString(1),
          java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
          r.getLong(3), r.getLong(4),
          java.lang.Double.doubleToRawLongBits(r.getDouble(5)),
          java.lang.Double.doubleToRawLongBits(r.getDouble(6)),
          java.lang.Double.doubleToRawLongBits(r.getDouble(7)))
      }.sortBy(r => (r._2, r._1))

  private def bounds = ChunkScan.measure[Long](ev, col("event_type"), col("secs"))

  test("driftScanChunked == driftScan bit-for-bit (halo-forcing tiny chunks)") {
    val window = rows(EventOps.driftScan(ev, 50))
    assert(window.nonEmpty)
    val chunked = rows(EventOps.driftScanChunked(ev, 50, bounds,
      fineBuckets = 13, chunkRows = 64))
    assert(chunked.length == window.length &&
      chunked.sameElements(window),
      s"chunked=${chunked.length} window=${window.length}")
  }

  test("driftScanChunked == driftScan at a second (w, chunk) geometry") {
    val window = rows(EventOps.driftScan(ev, 10))
    val chunked = rows(EventOps.driftScanChunked(ev, 10, bounds,
      fineBuckets = 7, chunkRows = 16))
    assert(chunked.sameElements(window))
  }
}
