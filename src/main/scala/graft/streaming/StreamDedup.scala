package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** st5_stream_dedup — exact record dedup inside the watermark horizon
  * (SURVEY.md §2.H; the streaming twin of d1, and what makes an
  * at-least-once Kafka source effectively-once: replayed records carry
  * identical payloads and are dropped while their event time is still
  * inside the watermark).
  *
  * Scale: state holds one entry per distinct key seen within the
  * horizon and the watermark evicts continuously — state size tracks
  * (arrival rate × horizon), never total history.
  */
object StreamDedup {

  /** Dedup on a content digest of the full record (any replay is a
    * byte-identical record → same digest). */
  def byContent(parsed: DataFrame, watermark: String = "10 minutes"): DataFrame =
    parsed
      .withColumn("__digest",
        md5(to_json(struct(parsed.columns.toIndexedSeq.map(col): _*))))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("__digest")
      .drop("__digest")

  /** Dedup on an explicit key subset (e.g. a producer sequence id). */
  def byKeys(parsed: DataFrame, keys: Seq[String],
      watermark: String = "10 minutes"): DataFrame =
    parsed.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)
}
